"""The FULL ETL as one cross-entry-point composition (SURVEY §3 end-to-end).

The reference runs its verticals as separate entry points wired together
implicitly through the shared Airtable staging base
(``configuration.json:130-169``): the ingestion operators
(``airtable_updater`` merges, ``srm_tools/update_table.py:55-108``) WRITE the
Organizations/Branches/Services tables, and the derive DAG
(``operators/derive/to_dp.py``) later READS them, fanning out to the publish
sinks. Nothing certifies the handoff — the staging state the upserts produce
is simply assumed to be the state derive consumes.

This module makes that handoff explicit and certifiable as ONE lineage:

1. **fetch** — the staging fixtures are the scrape result;
2. **current** — deterministic perturbations of the fetch play the staging
   base as the upserts find it: renamed rows (update path), missing rows
   (insert path), current-only rows that are NOT re-fetched — which under
   ``manage_status=False`` must SURVIVE untouched (legacy branches/orgs, the
   reference's manually-curated rows) and under ``manage_status=True`` must
   flip INACTIVE (stale services, the soft-delete path);
3. **upsert** — the §2.10 ``staging_upsert`` merges produce the write sets
   AND the post-merge staging tables;
4. **derive** — the UNMODIFIED derive DAG (``derive.flat_branches`` →
   ``flat_services`` → ``flat_table`` → ``card_data``) runs over the
   POST-upsert staging state — surviving legacy branches appear in cards,
   soft-deleted services do not;
5. **publish** — the card surface feeds the ES bulk lines and the
   organizations count surface from the SAME post-upsert state.

Scale shape: each upsert is one key-partitioned join (shuffle ∝ |table|);
the merge outputs, post tables and derive multi-consumer stages are pinned
as lazy lineage-truncating checkpoints (``keep_checkpointed_pooled``, the
``run_derive`` discipline) so each stage computes once per release cycle and
every consumer's plan bottoms out at a block scan. Nothing here collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import staging_upsert
from . import staging_fixtures as FIX


# one full ETL run holds 8 live pins (3 merges + the org and branch post
# tables + fb/ft/cards);
# the pool cap must exceed that or the LRU would evict a pin that a later
# stage still reads through
_ETL_POOL_SLOTS = 12

ORG_FIELDS = ["name", "short_name", "kind", "phone", "description"]
BRANCH_FIELDS = [
    "organization", "location", "name", "address", "operating_unit",
    "location_accurate", "last_modified",
]
SERVICE_FIELDS = [
    "name", "organization", "responses", "situations", "description",
    "boost", "last_modified",
]


def _last(col: str = "id"):
    return F.substring(F.col(col), -1, 1)


def current_organizations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Organizations staging table as the upsert finds it: fetched rows
    perturbed by their trailing id digit — 8 missing (insert), 4/5 stale
    names (update), rest verbatim (skip) — plus legacy orgs the scrape no
    longer returns, which ``manage_status=False`` must keep untouched."""
    f = FIX.organizations(spark, sf_dir)
    last = _last()
    legacy = FIX.locations(spark, sf_dir).select(
        F.concat(F.lit("org-gone-"), F.substring("key", 5, 10)).alias("id"),
        F.concat(F.lit("ארגון ותיק "), F.col("city")).alias("name"),
        F.lit(None).cast("string").alias("short_name"),
        F.lit("company").alias("kind"),
        F.lit(None).cast("string").alias("phone"),
        F.lit(None).cast("string").alias("description"),
        F.lit("ACTIVE").alias("status"),
    )
    return (
        f.filter(last != "8")
        .withColumn(
            "name",
            F.when(last.isin("4", "5"), F.concat(F.lit("ישן "), F.col("name")))
            .otherwise(F.col("name")),
        )
        .unionByName(legacy)
        .withColumn("source", F.lit("entities"))
    )


def current_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Branches staging table: digit 7 missing (insert), 2/3 stale names
    (update), plus per-location legacy branches absent from the scrape —
    the load-bearing rows: ``manage_status=False`` keeps them ACTIVE, so the
    derive DAG downstream MUST surface them in cards."""
    f = FIX.branches(spark, sf_dir)
    last = _last()
    n_orgs = FIX._supplier_count(sf_dir)  # noqa: SLF001 — shared catalog fact
    nk = F.substring("key", 5, 10).cast("int")
    legacy = FIX.locations(spark, sf_dir).select(
        F.concat(F.lit("branch-legacy-"), nk.cast("string")).alias("id"),
        F.concat(F.lit("org-"), ((nk % n_orgs) + 1).cast("string")).alias(
            "organization"
        ),
        F.col("key").alias("location"),
        F.concat(F.lit("סניף ותיק "), nk.cast("string")).alias("name"),
        F.concat(F.lit("רחוב "), (nk + 1).cast("string")).alias("address"),
        F.lit(None).cast("string").alias("operating_unit"),
        F.lit(True).alias("location_accurate"),
        F.lit(None).cast("string").alias("last_modified"),
        F.lit("ACTIVE").alias("status"),
    )
    return (
        f.filter(last != "7")
        .withColumn(
            "name",
            F.when(last.isin("2", "3"), F.concat(F.lit("ישן "), F.col("name")))
            .otherwise(F.col("name")),
        )
        .unionByName(legacy)
        .withColumn("source", F.lit("entities"))
    )


def current_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Services staging table: digit 9 missing (insert), 1/2 stale
    descriptions (update), plus stale services absent from the scrape — under
    ``manage_status=True`` the merge must flip them INACTIVE (soft delete),
    and the derive DAG's status gate must drop them from cards."""
    from ..sources.tables import load_table  # noqa: PLC0415

    f = FIX.services(spark, sf_dir)
    last = _last()
    stale = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 97 == 0)
        .select(
            F.concat(F.lit("svc-gone-"), F.col("p_partkey").cast("string")).alias("id"),
            F.lit("שירות שנעלם").alias("name"),
            F.lit(None).cast("string").alias("organization"),
            F.lit(None).cast("array<string>").alias("responses"),
            F.lit(None).cast("array<string>").alias("situations"),
            F.lit(None).cast("string").alias("description"),
            F.lit(None).cast("double").alias("boost"),
            F.lit(None).cast("string").alias("last_modified"),
            F.lit("ACTIVE").alias("status"),
        )
    )
    return (
        f.filter(last != "9")
        .withColumn(
            "description",
            F.when(last.isin("1", "2"), F.lit("תיאור ישן")).otherwise(
                F.col("description")
            ),
        )
        .unionByName(stale)
        .withColumn("source", F.lit("guidestar"))
    )


def _merge_and_post(
    current: DataFrame,
    fetched: DataFrame,
    fields: list[str],
    source_id: str,
    manage_status: bool,
) -> tuple[DataFrame, DataFrame]:
    """One airtable_updater merge: returns (write set, post-merge table).

    ``staging_upsert(only_changed=False)`` yields every merged row with the
    ``_changed`` write-amplification flag. Under ``manage_status=True`` the
    full-outer join already covers every current key, so the merge output IS
    the post-merge table; under ``manage_status=False`` (a patch, the
    reference's left join) the current-only rows pass through untouched —
    exactly what the Airtable base does to rows the updater never mentions."""
    merged = staging_upsert(
        current, fetched, key="id", table_fields=fields,
        source_id=source_id, manage_status=manage_status, only_changed=False,
    )
    # the merge feeds BOTH the write set and the post-merge table — pin it so
    # neither consumer re-runs the full-outer upsert join (and so both plans
    # bottom out at the checkpoint scan instead of nesting it)
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    merged = keep_checkpointed_pooled(
        merged, "etl_stages", max_slots=_ETL_POOL_SLOTS, eager=False
    )
    writes = merged.filter(F.col("_changed"))
    post = merged.drop("_changed")
    if not manage_status:
        untouched = current.join(
            fetched.select("id"), "id", "left_anti"
        ).select("id", *fields, "source", "status")
        post = post.unionByName(untouched)
    return writes, post


def run_full_etl(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Ingestion upserts → post-merge staging tables → derive DAG → publish
    surfaces, one lineage. Returns every certified stage; the post tables and
    the derive multi-consumer stages are pinned as LAZY lineage-truncating
    checkpoints (each feeds both its certification row-set and the downstream
    consumer — a six-deep chain of pins whose plans, under persist, each
    nested the full upstream tree: q165 carried 50 runtime exchanges and
    recomputed the whole ETL per consumer after the harness's between-query
    cache release)."""
    from ..operators.session_cache import keep_checkpointed_pooled as _pin  # noqa: PLC0415
    from .derive import card_data, flat_branches, flat_services, flat_table  # noqa: PLC0415

    w_orgs, post_orgs = _merge_and_post(
        current_organizations(spark, sf_dir),
        FIX.organizations(spark, sf_dir).drop("status"),
        ORG_FIELDS, "entities", manage_status=False,
    )
    w_brs, post_brs = _merge_and_post(
        current_branches(spark, sf_dir),
        FIX.branches(spark, sf_dir).drop("status"),
        BRANCH_FIELDS, "entities", manage_status=False,
    )
    w_svcs, post_svcs = _merge_and_post(
        current_services(spark, sf_dir),
        FIX.services(spark, sf_dir).drop("status"),
        SERVICE_FIELDS, "guidestar", manage_status=True,
    )
    post_orgs = _pin(post_orgs, "etl_stages", max_slots=_ETL_POOL_SLOTS, eager=False)
    post_brs = _pin(post_brs, "etl_stages", max_slots=_ETL_POOL_SLOTS, eager=False)
    # post_svcs needs no pin of its own: under manage_status=True it is only
    # a column drop over the merge pin

    # the UNMODIFIED derive DAG over the post-upsert staging state — the
    # handoff the reference's scheduler performs implicitly via Airtable
    locs = FIX.locations(spark, sf_dir)
    fb = _pin(flat_branches(post_brs, locs, post_orgs), "etl_stages", max_slots=_ETL_POOL_SLOTS, eager=False)
    ft = _pin(
        flat_table(flat_services(post_svcs, fb), fb), "etl_stages",
        max_slots=_ETL_POOL_SLOTS, eager=False,
    )
    cards = _pin(card_data(ft), "etl_stages", max_slots=_ETL_POOL_SLOTS, eager=False)
    return {
        "writes_orgs": w_orgs,
        "writes_branches": w_brs,
        "writes_services": w_svcs,
        "post_orgs": post_orgs,
        "post_branches": post_brs,
        "post_services": post_svcs,
        "flat_branches": fb,
        "flat_table": ft,
        "cards": cards,
    }
