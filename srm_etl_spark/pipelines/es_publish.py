"""The five-index ES publish composition — Spark shape of the reference's
``operators/derive/to_es.py:340-350`` (``operator()``): one derive output
feeds five index surfaces:

- **cards**   (``data_api_es_flow``, to_es.py:78-115): the full card surface
  plus ``score`` (card_score, computed in ``derive.card_data_full``) and
  ``airtable_last_modified`` = max of the parseable service/branch stamps
  (to_es.py:85-94's ``filter(None)`` + ``max``).
- **places**  (``load_locations_to_es_flow``, to_es.py:163-206): the location
  bounds datapackage concatenated with four hand-curated PREDEFINED regions
  (U1), ``query`` = the longest display name, ``score`` = bbox area × a
  per-place-kind weight.
- **responses** (``load_responses_to_es_flow``, to_es.py:209-248): card
  response ids parent-expanded and counted per id (A1 over U4), joined onto
  the Responses taxonomy table, ACTIVE + counted only, ``score = count``.
- **situations** (``load_situations_to_es_flow``, to_es.py:251-289): same
  over situation ids.
- **organizations** (``load_organizations_to_es_flow``, to_es.py:292-320):
  cards counted per organization, org name/description/kind joined on,
  ``score = 10 × count``.
- **autocomplete** (``load_autocomplete_to_es_flow``, to_es.py:323-331): the
  autocomplete corpus keyed by its slug id (``set_primary_key(['id'])`` —
  ES collapses duplicate _ids, modeled as a deterministic keeper). The
  published ES load is UNLIMITED; ``limit_rows=10000`` belongs only to the
  reference's second flow (to_es.py:333) whose CKAN dump is a commented-out
  backup — exposed here as the explicit backup-only ``limit_rows`` arg.

Scale shape: the card surface is persisted ONCE by the caller and every
count leg is a single hash aggregate over it (map-side combinable, shuffle
bounded by |taxonomy| / |orgs|); the dimension joins broadcast; places is
dimension-sized end-to-end. No global sort anywhere on the published path —
the backup flow's rank gate is the only one, and only when requested.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.taxonomy import update_taxonomy_with_parents

_log = logging.getLogger(__name__)

# reference to_es.py:179-184 — hand-curated region entries (domain constants,
# shared-literal no-drift discipline)
PREDEFINED_PLACES = [
    ("גוש_דן", ["גוש דן"], [34.6, 31.8, 35.1, 32.181], "region"),
    ("איזור_ירושלים", ["איזור ירושלים"], [34.9, 31.7, 35.3, 31.9], "region"),
    ("איזור_הצפון", ["איזור הצפון"], [34.5, 32.5, 35.8, 33.3], "region"),
    ("איזור_באר_שבע", ["איזור באר-שבע"], [34.5, 30.8, 35.5, 31.5], "region"),
]

# reference to_es.py:165-167 — per-place-kind score weights (unknown kinds
# default to 1 via scores.get(place, 1))
PLACE_SCORES = {"region": 200, "city": 100, "town": 50, "village": 10, "hamlet": 5}


def cards_api_surface(cards_full: DataFrame) -> DataFrame:
    """data_api enrichment (to_es.py:84-94): ``airtable_last_modified`` is the
    max of the present stamps — Spark's ``greatest`` skips nulls, exactly the
    reference's ``max(filter(None, [...]))`` (null only when both absent).
    The stamps are fixed-format ISO dates, so string max == datetime max."""
    return cards_full.withColumn(
        "airtable_last_modified",
        F.greatest("service_last_modified", "branch_last_modified"),
    )


def places_surface(spark: SparkSession, locations: DataFrame) -> DataFrame:
    """U1 + U3 + query/score (to_es.py:169-201): bounds rows concatenated with
    the PREDEFINED literals; ``query`` = the longest name. The reference's
    ``sorted(name, key=len, reverse=True)[0]`` is a STABLE sort, so a length
    tie resolves to the first name in array order — reproduced exactly with
    the array position as the tie-break (min_by over (-length, pos): both
    deterministic under any partitioning AND parity-exact on ties).
    ``score`` = bbox area × 100000 × the place-kind weight. The bounds rows
    come from the shared fixture layer (staging_fixtures.places_source — the
    stand-in for the downloaded bounds datapackage, to_es.py:164)."""
    from .staging_fixtures import places_source  # noqa: PLC0415

    pre = spark.createDataFrame(
        PREDEFINED_PLACES,
        "key string, name array<string>, bounds array<double>, place string",
    )
    allp = places_source(locations).unionByName(pre)
    named = allp.select("key", F.posexplode("name").alias("pos", "nm"))
    q = named.groupBy("key").agg(
        F.min_by("nm", F.struct(-F.length("nm"), F.col("pos"))).alias("query")
    )
    size = (
        (F.element_at("bounds", 3) - F.element_at("bounds", 1))
        * (F.element_at("bounds", 4) - F.element_at("bounds", 2))
        * F.lit(100000.0)
    )
    wmap = F.create_map(
        *[F.lit(x) for k, v in PLACE_SCORES.items() for x in (k, v)]
    )
    weight = F.coalesce(wmap[F.col("place")], F.lit(1)).cast("double")
    return allp.join(F.broadcast(q), "key").withColumn("score", size * weight)


def taxonomy_count_surface(
    cards: DataFrame, dim: DataFrame, id_arr_col: str
) -> DataFrame:
    """The responses/situations publish surface (to_es.py:216-248/258-289):
    per-card ids parent-expanded (helpers.update_taxonomy_with_parents),
    unwound and counted per id; the taxonomy table joins the count on; rows
    must be ACTIVE **and counted** (the reference's two filter_rows); score
    is the count. One hash aggregate (shuffle ≤ |taxonomy|) + one broadcast
    join."""
    ids = cards.select(
        F.explode(update_taxonomy_with_parents(F.col(id_arr_col))).alias("id")
    )
    counts = ids.groupBy("id").agg(F.count(F.lit(1)).alias("count"))
    # counts is taxonomy-bounded (one row per referenced taxonomy id) but
    # aggregated from a checkpoint-pinned card surface, so the planner has
    # no statistics for it and the dimension (itself a stats-free pinned
    # scan) would sort-merge — broadcast the bounded side explicitly.
    return (
        dim.join(F.broadcast(counts), "id", "left")
        .filter((F.col("status") == "ACTIVE") & F.col("count").isNotNull())
        .select(
            "id", "name", "synonyms", "breadcrumbs", "count",
            F.col("count").cast("double").alias("score"),
        )
    )


def organizations_surface(cards: DataFrame, organizations: DataFrame) -> DataFrame:
    """Active-organizations surface (to_es.py:292-320): cards counted per
    organization id (join_with_self), org fields joined onto the counts
    (half-outer: a count row keeps nulls if the org dim lacks it), score =
    10 × count. NOTE the reference applies no status filter here — "active"
    means HAS CARDS: the derive DAG only builds cards for ACTIVE orgs
    (flat_branches' org gate), so an inactive org has no count row and
    drops from the counts-driven join by construction."""
    counts = cards.groupBy(F.col("organization").alias("id")).agg(
        F.count(F.lit(1)).alias("count")
    )
    dim = organizations.select("id", "name", "description", "kind")
    return counts.join(F.broadcast(dim), "id", "left").withColumn(
        "score", (F.col("count") * 10).cast("double")
    )


def operator_publish_all(
    spark: SparkSession,
    sf_dir: str,
    ship_factory,
    sweep,
    ensure=None,
    settle_seconds: int = 0,
) -> dict[str, str]:
    """The reference's ``to_es.operator()`` (to_es.py:340-350) end-to-end:
    build every surface from ONE derive run and push each through the full
    publish protocol (ensure mapping → bulk-ship partitions → revision
    sweep) into its index. ``ship_factory(index)`` returns the per-index
    bulk transport (HTTP in production, a spool recorder in tests);
    ``sweep``/``ensure`` as in :func:`srm_etl_spark.sinks.es.publish`.
    Returns {index: revision}.

    The six index names are the reference's own (srm__cards srm__places
    srm__responses srm__situations srm__orgs srm__autocomplete). The derive
    DAG runs once (run_derive's checkpoint pins + the shared card projection
    below); each publish streams from it. The card projection is itself a
    lineage-truncating checkpoint pin, not a persist: four of the six
    surfaces consume it and each publish runs several actions (bulk ship +
    revision sweep), so with a persist every one of those plans nested the
    full card_data_full subtree — q161 carried 172 runtime exchange nodes
    that way; with the pin each bottoms out at the block scan.

    The reference publishes the six indexes one after another; they are
    independent, so here each gets its own driver thread (its surface
    construction, its own dimension pins and its publish), and their Spark
    jobs share the executors. A serial chain of small jobs kept a 4-core
    host about half idle. The derive run, the card pin and every derive
    stage a surface reads are built on the calling thread first
    (``run_derive``'s lazy stage map is not thread-safe); autocomplete, the
    longest publish, starts first, then cards. Every thread is joined before
    this returns or raises; the first failure in index order is raised and
    any later one is logged."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415
    from ..pipelines import staging_fixtures as FIX  # noqa: PLC0415
    from ..pipelines.autocomplete import (  # noqa: PLC0415
        autocomplete_corpus,
        autocomplete_input,
        city_bounds,
    )
    from ..pipelines.derive import run_derive  # noqa: PLC0415
    from ..sinks.es import publish  # noqa: PLC0415

    st = run_derive(spark, sf_dir)
    # lazy: an eager build here would run before, not beside, the fan-out
    cards = keep_checkpointed_pooled(
        cards_api_surface(st["card_data_full"]).select(
            "card_id", "card_key", "service_id", "service_name", "branch_city",
            "organization", "organization_name", "national_service",
            "card_score", "airtable_last_modified",
            "response_ids", "situation_ids",
        ),
        "es_operator_cards",
        eager=False,
    )
    flat_table = st["flat_table"]
    locs = FIX.locations(spark, sf_dir)
    # index -> (surface builder, id column), in the reference's order
    surfaces = {
        "srm__cards": (lambda: cards, "card_id"),
        "srm__places": (lambda: places_surface(spark, locs), "key"),
        "srm__responses": (
            lambda: taxonomy_count_surface(
                cards, FIX.responses_dim(spark, sf_dir), "response_ids"
            ),
            "id",
        ),
        "srm__situations": (
            lambda: taxonomy_count_surface(
                cards, FIX.situations_dim(spark, sf_dir), "situation_ids"
            ),
            "id",
        ),
        "srm__orgs": (
            lambda: organizations_surface(cards, FIX.organizations(spark, sf_dir)),
            "id",
        ),
        "srm__autocomplete": (
            lambda: autocomplete_publish(
                autocomplete_corpus(autocomplete_input(flat_table), city_bounds(locs))
            ),
            "qid",
        ),
    }

    def publish_one(index: str) -> str:
        build, id_col = surfaces[index]
        return publish(
            build(), index, id_col, ship_factory(index), sweep,
            settle_seconds=settle_seconds, ensure=ensure,
        )

    longest_first = ["srm__autocomplete", "srm__cards"]
    order = longest_first + [i for i in surfaces if i not in longest_first]
    # one wrap per thread: each copies the caller's local properties (job
    # group, tags) into its own Properties object. Leaving the block joins
    # every worker thread, failed or not.
    with ThreadPoolExecutor(max_workers=len(surfaces)) as pool:
        futures = {
            index: pool.submit(inheritable_thread_target(spark)(publish_one), index)
            for index in order
        }
    errors = [(i, ex) for i in surfaces if (ex := futures[i].exception()) is not None]
    for index, ex in errors[1:]:
        _log.error("publish of %s failed too", index, exc_info=ex)
    if errors:
        raise errors[0][1]
    return {index: futures[index].result() for index in surfaces}


def autocomplete_publish(corpus: DataFrame, limit_rows: int | None = None) -> DataFrame:
    """The autocomplete index load (to_es.py:323-331): the corpus keyed by its
    slug id — ``set_primary_key(['id'])`` means ES collapses duplicate _ids,
    modeled as a deterministic keeper (min by query text). The published ES
    surface is UNLIMITED (the reference's first flow has no ``limit_rows``),
    so the default path is one hash aggregate on qid — fully partitioned, no
    global sort, no silent row drops past 10⁴.

    ``limit_rows`` reproduces the reference's SECOND flow (to_es.py:333) — a
    backup datapackage whose CKAN dump is commented out — as an explicit
    opt-in: a rank gate in query order. Only that path carries the
    single-partition row_number, protocol-capped by the limit itself."""
    keeper = F.min_by(
        F.struct("query", "n", "score", "importance", "low"), F.col("query")
    )
    per_id = corpus.groupBy("qid").agg(keeper.alias("_k")).select("qid", "_k.*")
    if limit_rows is None:
        return per_id
    w = Window.orderBy("query")
    return per_id.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= limit_rows
    )
