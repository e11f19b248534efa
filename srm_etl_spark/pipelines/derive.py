"""The derive DAG — the reference's flagship pipeline, Spark-first.

Reproduces the semantic chain of ``operators/derive/to_dp.py`` (reference
repo; stage boundaries at :288-406, :450-575, :577-698, :756-920):

    staging (organizations, branches, locations, services)
      → flat_branches   (branch ⋈ location ⋈ org, deduped, org branch count)
      → flat_services   (service exploded per branch of its org)
      → flat_table      (service × branch, PK-deduped)
      → card_data       (taxonomy merge + parent expansion + stable card ids)

Differences from the reference are deliberate Spark-first re-designs:

- the reference's ``merge_duplicate_branches`` is an order-dependent
  streaming dedup (first row wins); here it is an explicit-order
  ``row_number() == 1`` per duplicate key — same keeper, provably
  deterministic under any partitioning;
- ``branch_mapping`` driver-side dict state (reference ``to_dp.py:928-932``)
  becomes a mapping DataFrame joined where needed;
- per-org branch counts are a window aggregate, not generator state;
- every stage is a pure DataFrame → DataFrame function: Catalyst sees the
  whole DAG and pushes filters/prunes columns across stage boundaries —
  stages materialize only when the caller persists them.

All joins are equi-joins: org/location dimensions broadcast; the
service × branch fan-out shuffles on the join key and AQE handles skew (the
reference's welfare-ministry org owns a large share of branches — the same
skew shape appears here when one org supplies most parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hasher
from ..functions.taxonomy import update_taxonomy_with_parents
from . import staging_fixtures as FIX

# reference operators/derive/autocomplete.py:35-38 (shared with to_dp.py's
# possible_autocomplete) — curated noise situations excluded from suggestion
# strings; kept verbatim so the rule is live when the real taxonomy flows in.
_IGNORE_SITUATIONS = (
    "human_situations:language:hebrew_speaking",
    "human_situations:age_group:adults",
)


def flat_branches(
    branches: DataFrame, locations: DataFrame, organizations: DataFrame
) -> DataFrame:
    """branch ⋈ location (left, J1) ⋈ organization (inner, J2), deduplicated
    per (organization, location) with a deterministic keeper (A6), plus the
    per-org branch count attached to every row (W3)."""
    b = branches.filter(F.upper(F.trim("status")) == "ACTIVE")
    loc = locations.select(
        F.col("key").alias("location"), "city", "lat", "lon", "national_service"
    )
    org = organizations.filter(F.upper(F.trim("status")) == "ACTIVE").select(
        F.col("id").alias("organization"),
        F.col("name").alias("organization_name"),
        F.col("short_name").alias("organization_short_name"),
        F.col("kind").alias("organization_kind"),
        F.col("phone").alias("organization_phone"),
    )
    joined = b.join(F.broadcast(loc), "location", "left").join(
        F.broadcast(org), "organization", "inner"
    )
    dup_w = Window.partitionBy("organization", "location").orderBy(F.asc("id"))
    merged = (
        joined.withColumn("_rn", F.row_number().over(dup_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    count_w = Window.partitionBy("organization")
    return merged.withColumn(
        "organization_branch_count", F.count(F.lit(1)).over(count_w)
    ).select(
        F.col("id").alias("branch_id"),
        "organization",
        "organization_name",
        "organization_short_name",
        "organization_kind",
        "organization_phone",
        "location",
        F.col("name").alias("branch_name"),
        F.col("city").alias("branch_city"),
        # full branch address = street part + city — the shape address_parts
        # splits back apart (reference helpers.py:314-351)
        F.concat_ws(" ", F.col("address"), F.col("city")).alias("branch_address"),
        "lat",
        "lon",
        "national_service",
        F.col("last_modified").alias("branch_last_modified"),
        F.col("operating_unit").alias("branch_operating_unit"),
        F.col("location_accurate").alias("branch_location_accurate"),
        "organization_branch_count",
    )


def flat_services(services: DataFrame, flat_branches_df: DataFrame) -> DataFrame:
    """Service exploded per branch of its organization (J4 + U4): branches
    are collapsed per org FIRST (collect_set keyed by org — shuffle bounded by
    |orgs|), then exploded against services."""
    svc = services.filter(F.upper(F.trim("status")) == "ACTIVE")
    branches_per_org = flat_branches_df.groupBy("organization").agg(
        F.array_sort(F.collect_set("branch_id")).alias("org_branches")
    )
    # explicit hint, not AQE: flat_branches arrives as a lineage-truncated
    # checkpoint (run_derive pin) whose LogicalRDD has NO size statistics —
    # without the hint the planner assumes Long.Max bytes and sort-merges a
    # |orgs|-row aggregate against the services table
    return (
        svc.join(F.broadcast(branches_per_org), "organization", "inner")
        .select(
            F.col("id").alias("service_id"),
            F.col("name").alias("service_name"),
            F.col("description").alias("service_description"),
            F.col("boost").alias("service_boost"),
            F.col("last_modified").alias("service_last_modified"),
            "organization",
            "responses",
            "situations",
            F.explode("org_branches").alias("branch_id"),
        )
    )


def flat_table(flat_services_df: DataFrame, flat_branches_df: DataFrame) -> DataFrame:
    """service × branch join (J2) + composite-PK dedup (A8).

    The branch side broadcasts explicitly: branches are staging-dimension
    scale (~10⁴ in the reference, never fact scale), and the frame arrives
    as a checkpoint pin whose LogicalRDD carries no size statistics — AQE
    cannot discover the broadcast on its own and would sort-merge the
    fan-out."""
    joined = flat_services_df.join(
        F.broadcast(flat_branches_df.drop("organization")), "branch_id", "inner"
    )
    w = Window.partitionBy("service_id", "branch_id").orderBy(F.asc("service_name"))
    return joined.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def card_data(flat_table_df: DataFrame, autotag_rules: DataFrame | None = None) -> DataFrame:
    """Cards: one row per (service, branch) with merged + parent-expanded
    taxonomy ids (F13/F14) and the stable short card id (F22,
    sha1-of-concat — byte-compatible with the reference's hasher).

    ``autotag_rules`` (optional) applies the rule-driven tag injection
    between taxonomy expansion and the string join — the reference's
    card_data_flow order (to_dp.py:810 autotagging after normalize/map,
    before scoring)."""
    response_ids = update_taxonomy_with_parents(F.col("responses"))
    situation_ids = update_taxonomy_with_parents(F.col("situations"))
    cards = flat_table_df.select(
        hasher(F.col("branch_id"), F.col("service_id")).alias("card_id"),
        F.concat(F.col("branch_id"), F.col("service_id")).alias("card_key"),
        "service_id",
        "service_name",
        "branch_id",
        "branch_name",
        "branch_city",
        "organization",
        "organization_name",
        "organization_branch_count",
        "national_service",
        response_ids.alias("response_ids"),
        situation_ids.alias("situation_ids"),
    )
    if autotag_rules is not None:
        from .autotagging import apply_auto_tagging  # noqa: PLC0415

        cards = apply_auto_tagging(
            cards,
            autotag_rules,
            field_cols=("organization_name", "service_name"),
            key_col="card_key",
        ).drop("auto_tagged")
    return cards.withColumn(
        "response_ids", F.array_join(F.col("response_ids"), ",")
    ).withColumn("situation_ids", F.array_join(F.col("situation_ids"), ","))


def _suffix_kept(arr, max_score: float):
    """The reference's pop-while-over-cap loop (to_dp.py:723-753) in array
    expressions: ``arr`` is sorted by (score desc → ns asc, position asc);
    keep the elements whose score-desc SUFFIX sum is ≤ the cap (scores are
    non-negative so the suffix sum is monotone; O(k²) aggregate-in-filter
    with k = situations per card, single digits)."""

    def suffix_le_cap(x, i):
        tail = F.slice(arr, i + F.lit(1), F.size(arr) - i)
        s = F.aggregate(tail, F.lit(0.0), lambda a, y: a + (-y["ns"]))
        return s <= F.lit(max_score)

    return F.filter(arr, suffix_le_cap)


def _rs_kept_outputs(kept):
    """(rs_score, situations_scored, situation_scores_micro) columns from the
    kept (ns, sp, sid) struct array — shared by both formulations."""
    rs_score = F.round(
        F.aggregate(kept, F.lit(0.0), lambda a, y: a + (-y["ns"])), 6
    )
    scored = F.array_join(F.transform(kept, lambda x: x["sid"]), ",")
    micro = F.array_join(
        F.transform(
            kept, lambda x: F.round((-x["ns"]) * 1e6).cast("long").cast("string")
        ),
        ",",
    )
    return rs_score, scored, micro


def _rs_mode_per_row(
    base: DataFrame, entries: list, max_score: float, auto_tagged_col: str | None
) -> DataFrame:
    """rs_score / situation resort / cap AND the response-category mode as
    pure per-row array math: the collected score table enters the plan as a
    ``from_json`` map literal (constant-folded by Catalyst — parsed once at
    optimize time, never per row), so no explode leaves the row and no join
    returns. Semantics match :func:`_rs_mode_joined` up to summation-order
    ULPs: the grouped formulation sums the occ×nr applied scores in
    shuffle/aggregation order while this one folds each response vector in
    array order and multiplies by the occurrence count, so the two unrounded
    sums can differ in the last bits. The 6-decimal output rounding absorbs
    that everywhere except a suffix sum landing within ~1 ulp of the
    ``max_score`` cap — scores are ln-frequency ratios, so a nonzero sum
    hitting the (rational) cap exactly requires a measure-zero coincidence,
    and the all-zero ties both paths produce are exactly equal; the
    hypothesis parity suite (NULL elements included) and the q75-family
    oracles gate the agreement empirically rather than by an IEEE-exactness
    claim. The mode's (count desc, first position, category) keeper maps to
    ``array_min`` over the same key struct (first positions NULL-safe)."""
    import json  # noqa: PLC0415

    payload = {
        r["response_id"] + "\t" + r["situation_id"]: float(r["_score"])
        for r in entries
        if r["response_id"] is not None and r["situation_id"] is not None
    }
    mexpr = (
        F.from_json(F.lit(json.dumps(payload)), "map<string,double>")
        if payload
        else None
    )
    situ, resp = F.col("situation_ids"), F.col("response_ids")
    nr = F.size(resp)

    def first_pos(arr, v):
        # 0-based first index of v in arr, NULL-SAFE: array_position(arr,
        # NULL) is NULL, which would order a NULL element's tie-break after
        # every real position while the joined formulation's min(pos) is the
        # element's actual index — the r13 ADVICE divergence. array_min
        # skips the unmatched (NULL) slots.
        return F.array_min(
            F.transform(arr, lambda x, i: F.when(x.eqNullSafe(v), i))
        )

    def pair_score(r, s):
        if mexpr is None:
            return F.lit(0.0)
        return F.coalesce(mexpr[F.concat_ws("\t", r, s)], F.lit(0.0))

    def entry(s):
        total = F.aggregate(resp, F.lit(0.0), lambda a, r: a + pair_score(r, s))
        occ = F.size(F.filter(situ, lambda x: x.eqNullSafe(s)))
        sc = occ.cast("double") * total / nr.cast("double")
        if auto_tagged_col is not None:
            sc = F.when(
                F.array_contains(
                    F.coalesce(
                        F.col("_auto_tagged"), F.array().cast("array<string>")
                    ),
                    s,
                ),
                F.lit(0.0),
            ).otherwise(sc)
        return F.struct(
            (-sc).alias("ns"),
            first_pos(situ, s).alias("sp"),
            s.alias("sid"),
        )

    have_pairs = (nr >= 1) & (F.size(situ) >= 1)
    kept = _suffix_kept(F.array_sort(F.transform(F.array_distinct(situ), entry)), max_score)

    cats = F.transform(resp, lambda r: F.split(r, ":").getItem(1))

    def centry(c):
        n = F.size(F.filter(cats, lambda x: x.eqNullSafe(c)))
        return F.struct(
            (-n).alias("nn"),
            first_pos(cats, c).alias("fp"),
            c.alias("cat"),
        )

    mode = F.array_min(F.transform(F.array_distinct(cats), centry))["cat"]
    # Evaluate the heavy higher-order trees ONCE per row: HOFs run
    # interpreted (no codegen, no subexpression elimination), and a plain
    # withColumn alias would be re-inlined into every consumer by
    # CollapseProject — tripling the work. The 1-element explode is a
    # Generate barrier: the (kept, mode) struct materializes once, the
    # three rs outputs and the category then read the tiny kept array.
    payload = F.struct(
        F.when(have_pairs, kept).alias("kept"),
        F.when(nr >= 1, mode).otherwise(F.lit(None).cast("string")).alias("mode"),
    )
    tmp = base.withColumn("_rs", F.explode(F.array(payload)))
    k = F.col("_rs").getField("kept")
    rs_score, scored, micro = _rs_kept_outputs(k)
    return (
        tmp.withColumn(
            "rs_score", F.when(k.isNotNull(), rs_score).otherwise(F.lit(0.0))
        )
        .withColumn(
            "situations_scored", F.when(k.isNotNull(), scored).otherwise(F.lit(""))
        )
        .withColumn(
            "situation_scores_micro", F.when(k.isNotNull(), micro).otherwise(F.lit(""))
        )
        .withColumn("response_category", F.col("_rs").getField("mode"))
        .drop("_rs")
    )


def _rs_mode_joined(
    base: DataFrame,
    score_tbl: DataFrame | None,
    max_score: float,
    auto_tagged_col: str | None,
) -> DataFrame:
    """The explode → two-level aggregate → join-back formulation — the
    default (rs/mode sides are join-key aggregates, so Catalyst eliminates
    them for consumers that drop the rs columns) and the fallback when the
    observed (response, situation) pair count exceeds the per-row map-literal
    budget. Same semantics as :func:`_rs_mode_per_row`. ``score_tbl=None``
    builds the pair-frequency table from ``base`` itself."""
    from ..functions.scoring import idf_score_table  # noqa: PLC0415

    sit = base.select(
        "card_key",
        F.size("response_ids").alias("_nr"),
        "response_ids",
        *(["_auto_tagged"] if auto_tagged_col is not None else []),
        F.posexplode("situation_ids").alias("s_pos", "situation_id"),
    )
    pairs = sit.select(
        "card_key", "_nr", "s_pos", "situation_id",
        *(["_auto_tagged"] if auto_tagged_col is not None else []),
        F.explode("response_ids").alias("response_id"),
    )
    if score_tbl is None:
        score_tbl = idf_score_table(
            pairs.select("response_id", "situation_id"),
            "response_id", "situation_id", "_score",
        )
    scored_rows = pairs.join(
        F.broadcast(score_tbl), ["response_id", "situation_id"], "left"
    )
    applied = F.coalesce(F.col("_score"), F.lit(0.0))
    if auto_tagged_col is not None:
        applied = F.when(
            F.array_contains(
                F.coalesce(F.col("_auto_tagged"), F.array().cast("array<string>")),
                F.col("situation_id"),
            ),
            F.lit(0.0),
        ).otherwise(applied)
    s_scores = scored_rows.groupBy("card_key", "situation_id").agg(
        F.min("s_pos").alias("s_pos"),
        (F.sum(applied) / F.first("_nr")).alias("s_score"),
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("s_score")).alias("ns"),
                F.col("s_pos").alias("sp"),
                F.col("situation_id").alias("sid"),
            )
        )
    )
    kept_tbl = (
        s_scores.groupBy("card_key")
        .agg(arr.alias("_arr"))
        .select("card_key", _suffix_kept(F.col("_arr"), max_score).alias("_kept"))
    )
    rs_score, scored, micro = _rs_kept_outputs(F.col("_kept"))
    rs = kept_tbl.select(
        "card_key",
        rs_score.alias("rs_score"),
        scored.alias("situations_scored"),
        micro.alias("situation_scores_micro"),
    )

    cats = base.select(
        "card_key", F.posexplode("response_ids").alias("r_pos", "response_id")
    ).select(
        "card_key", "r_pos", F.split("response_id", ":").getItem(1).alias("category")
    )
    cat_counts = cats.groupBy("card_key", "category").agg(
        F.count(F.lit(1)).alias("_n"), F.min("r_pos").alias("_first_pos")
    )
    # mode keeper as a hash aggregate (map-side combinable), not a ranked
    # window: min over (count desc → -n, first position asc, category asc)
    modes = cat_counts.groupBy("card_key").agg(
        F.min_by(
            "category", F.struct(-F.col("_n"), F.col("_first_pos"), F.col("category"))
        ).alias("response_category")
    )
    enriched = base.join(rs, "card_key", "left").join(modes, "card_key", "left")
    return (
        enriched.withColumn("rs_score", F.coalesce("rs_score", F.lit(0.0)))
        .withColumn("situations_scored", F.coalesce("situations_scored", F.lit("")))
        .withColumn(
            "situation_scores_micro", F.coalesce("situation_scores_micro", F.lit(""))
        )
    )


def card_data_full(
    flat_table_df: DataFrame,
    max_score: float = 30.0,
    auto_tagged_col: str | None = None,
    rs_mode: str = "joined",
    score_map_max_entries: int = 65536,
) -> DataFrame:
    """The full reference card surface (to_dp.py:821-915 + to_es.py:24-59):
    everything :func:`card_data` has, plus

    - **rs_score / situation resort / cap** — RSScoreCalc per-card application
      (reference ``to_dp.py:723-753``): score(s,r) = ln(total_r / freq_{s,r})
      over the corpus' direct (situation, response) pairs; each card's
      situation score is the response-averaged sum; situations re-sort by
      score (desc, original position as the stable tie-break — Python's
      ``sorted`` is stable) and the highest-scored are popped while the card
      total exceeds ``max_score``. The pop-loop is order-equivalent to
      keeping the rows whose score-desc suffix sum is ≤ ``max_score`` (scores
      are non-negative, so the suffix sum is monotone) — a window, not a UDF.
    - **response_category** — per-card mode of the response id categories
      (``helpers.py:306-311``); Counter.most_common tie = first insertion,
      reproduced as (count desc, first position asc).
    - **card_score** — multiplicative relevance boosts (``to_es.py:24-59``).
    - **address/org-name parts** — fuzzy city / short-name split (F5/F6,
      ``helpers.py:314-375``) composed to the reference's primary/secondary
      shape.
    - **point_id, coords, geometry validation filter, national details,
      resolved org names, collapse_key** (``to_dp.py:855-915``,
      ``helpers.py:57-76``).

    Two formulations for the rs/mode legs, agreeing to summation-order ULPs
    (see ``_rs_mode_per_row`` for the exact caveat), both oracle-gated:

    - ``rs_mode="joined"`` (default): explode → two-level aggregate →
      join-back. The rs and mode sides are aggregates on the join key, so
      Catalyst ELIMINATES them entirely for consumers that never project an
      rs column (the ES surfaces project card_score + ids only — their plans
      drop the whole scoring subtree), and every column is individually
      prunable.
    - ``rs_mode="per_row"``: the score table's cardinality is
      |situations|×|responses| — taxonomy-bounded and corpus-size-
      independent — so it collapses to a driver-collected map literal (the
      bounded-sync pattern of kmeans' centroid collect,
      ``operators/similarity.py``) and the per-card cap/resort and the
      category mode run PER ROW in array expressions: zero joins, and the
      only shuffle left is the (tiny-output, map-side-combinable)
      pair-frequency aggregate — the shape for shuffle-constrained
      deployments computing the FULL surface. The trade: the heavy array
      trees evaluate behind a Generate barrier that column pruning cannot
      remove, so partial-surface consumers pay for columns they drop — which
      is why it is opt-in, not the default. Above ``score_map_max_entries``
      observed (response, situation) pairs the map literal would bloat every
      task's serialized plan, so the join formulation takes over.
    """
    if rs_mode not in ("joined", "per_row"):
        raise ValueError("rs_mode must be 'joined' or 'per_row'")
    from ..functions.fuzzy import address_parts, org_name_parts  # noqa: PLC0415
    from ..functions.geo import calc_point_id, validate_geometry  # noqa: PLC0415
    from ..functions.scoring import card_score, idf_score_table  # noqa: PLC0415

    base = flat_table_df.select(
        hasher(F.col("branch_id"), F.col("service_id")).alias("card_id"),
        F.concat(F.col("branch_id"), F.col("service_id")).alias("card_key"),
        "service_id",
        "service_name",
        "service_description",
        "service_boost",
        "branch_id",
        "branch_name",
        "branch_city",
        "branch_address",
        "organization",
        "organization_name",
        "organization_short_name",
        "organization_kind",
        "organization_phone",
        "organization_branch_count",
        "national_service",
        "lat",
        "lon",
        "service_last_modified",
        "branch_last_modified",
        "branch_operating_unit",
        "branch_location_accurate",
        # direct ids — the reference computes rs_score / categories on the
        # mapped DIRECT ids; parent expansion lands in separate columns
        # (to_dp.py:835-836) which card_data() carries
        F.col("responses").alias("response_ids"),
        F.col("situations").alias("situation_ids"),
        *(
            [F.col(auto_tagged_col).alias("_auto_tagged")]
            if auto_tagged_col is not None
            else []
        ),
    )

    # ---- RSScoreCalc (A10) + response-category mode (A5) --------------------
    # auto-tagged situations contribute 0 to the card score (reference
    # to_dp.py:735-736) — the zeroing happens at APPLICATION time; the score
    # table itself is built over all pairs. The pair explode below exists
    # ONLY to feed the frequency aggregate — per-card application happens in
    # array-land (no join back).
    if rs_mode == "per_row":
        pairs_slim = base.select(
            F.explode("situation_ids").alias("situation_id"), "response_ids"
        ).select("situation_id", F.explode("response_ids").alias("response_id"))
        score_tbl = idf_score_table(
            pairs_slim, "response_id", "situation_id", "_score"
        )
        entries = score_tbl.limit(score_map_max_entries + 1).collect()
        if len(entries) <= score_map_max_entries:
            enriched = _rs_mode_per_row(base, entries, max_score, auto_tagged_col)
        else:
            enriched = _rs_mode_joined(base, score_tbl, max_score, auto_tagged_col)
    else:
        enriched = _rs_mode_joined(base, None, max_score, auto_tagged_col)

    # ---- possible_autocomplete (to_dp.py:180-195) ---------------------------
    # Nested set comprehension over responses × situations (+city variants),
    # reproduced as nested array transforms: build every candidate string
    # (nulls where a guard fails), then flatten → de-null → distinct → sort.
    # The reference's curated ignore-set and category exclusions are kept
    # structurally (no-ops on this corpus, live on the real taxonomy).
    ignore_arr = F.array(*[F.lit(s) for s in _IGNORE_SITUATIONS])
    city = F.col("branch_city")

    def _per_situation(r):
        def inner(s):
            not_ignored = ~F.array_contains(ignore_arr, s)
            cat = F.split(s, ":").getItem(1)
            name_ok = not_ignored & ~cat.isin("age_group", "language")
            return F.array(
                F.when(name_ok, s),
                F.when(not_ignored, F.concat(r, F.lit(" עבור "), s)),
                F.when(
                    city.isNotNull(),
                    F.concat(F.lit("שירותים עבור "), s, F.lit(" ב"), city),
                ),
                F.when(
                    city.isNotNull(),
                    F.concat(r, F.lit(" עבור "), s, F.lit(" ב"), city),
                ),
            )

        return inner

    per_response = F.transform(
        F.col("response_ids"),
        lambda r: F.concat(
            F.array(r),
            F.flatten(F.transform(F.col("situation_ids"), _per_situation(r))),
            F.when(
                city.isNotNull(), F.array(F.concat(r, F.lit(" ב"), city))
            ).otherwise(F.array().cast("array<string>")),
        ),
    )
    possible_ac = F.array_sort(
        F.array_distinct(
            F.filter(F.flatten(per_response), lambda x: x.isNotNull())
        )
    )

    # ---- scalar surface -----------------------------------------------------
    national = F.coalesce(F.col("national_service"), F.lit(False))
    geometry = F.array("lon", "lat")
    ap = address_parts(F.col("branch_address"), F.col("branch_city"))
    onp = org_name_parts(F.col("organization_name"), F.col("organization_short_name"))
    # reference the materialized _onp column, not the UDF expression — a
    # second reference to the raw expression would evaluate the kernel twice
    org_prefix = F.substring(
        F.col("organization_name"), F.lit(1), F.col("_onp.match_start")
    )
    org_suffix = F.substring(
        F.col("organization_name"),
        F.col("_onp.match_start") + F.length("organization_short_name") + 1,
        F.lit(1 << 20),
    )
    out = (
        enriched.withColumn("_ap", ap)
        .withColumn("_onp", onp)
        .withColumn(
            "address_primary",
            F.when(national, F.lit("שירות ארצי"))
            .when(F.col("_ap.match_start") >= 0, F.col("branch_city"))
            .otherwise(F.col("branch_address")),
        )
        .withColumn(
            "address_secondary",
            F.when(national, F.lit(None).cast("string"))
            .when(F.col("_ap.match_start") >= 0, F.col("_ap.primary"))
            .otherwise(F.lit(None).cast("string")),
        )
        .withColumn(
            "org_name_primary",
            F.when(
                F.col("_onp.match_start") >= 0, F.col("organization_short_name")
            ).otherwise(F.col("organization_name")),
        )
        .withColumn(
            "org_name_secondary",
            F.when(
                F.col("_onp.match_start") >= 0,
                F.nullif(
                    F.btrim(F.concat_ws(" ", org_prefix, org_suffix), F.lit(" -,")),
                    F.lit(""),
                ),
            ).otherwise(F.lit(None).cast("string")),
        )
        .withColumn(
            "point_id",
            F.when(national, F.lit("national_service")).otherwise(
                calc_point_id(geometry)
            ),
        )
        .withColumn(
            "coords",
            F.when(
                F.col("lat").isNotNull() & F.col("lon").isNotNull(),
                F.format_string("[%.5f,%.5f]", F.col("lon"), F.col("lat")),
            ),
        )
        .withColumn(
            "national_service_details",
            F.when(national, F.lit("ארצי")).otherwise(F.lit(None).cast("string")),
        )
        .withColumn(
            "organization_resolved_name",
            F.concat_ws(",", "organization_short_name", "organization_name"),
        )
        .withColumn("possible_autocomplete", F.array_join(possible_ac, "|"))
        # safe_reorder_responses_by_category (to_dp.py:50-67): responses whose
        # category matches the card's response_category float to the front,
        # both halves keeping their original order (stable partition)
        .withColumn(
            "responses_reordered",
            F.array_join(
                F.concat(
                    F.filter(
                        "response_ids",
                        lambda r: F.split(r, ":").getItem(1).eqNullSafe(
                            F.col("response_category")
                        ),
                    ),
                    F.filter(
                        "response_ids",
                        lambda r: ~F.split(r, ":").getItem(1).eqNullSafe(
                            F.col("response_category")
                        ),
                    ),
                ),
                ",",
            ),
        )
        .withColumn(
            "collapse_key",
            F.trim(
                F.concat_ws(
                    " ", "service_name", F.coalesce("service_description", F.lit(""))
                )
            ),
        )
        .withColumn(
            "card_score",
            F.round(
                card_score(
                    F.col("organization_branch_count"),
                    F.col("national_service"),
                    F.col("service_id"),
                    F.col("service_description"),
                    F.col("organization_phone"),
                    F.col("organization_kind"),
                    F.col("service_boost"),
                ),
                6,
            ),
        )
        # reference to_dp.py:866-871: invalid-geometry cards drop unless the
        # service is national
        .filter(validate_geometry(geometry) | national)
        .drop("_ap", "_onp")
    )
    return out


def card_search(
    spark: SparkSession,
    sf_dir: str,
    city: str = "NATION_3",
    response_token: str = "responses:economy",
) -> DataFrame:
    """The flagship search ("cards for response X in city Y", SURVEY §7.1)
    with the filters pushed BELOW the derive DAG instead of over the finished
    card table:

    - the city predicate lands on the locations dimension — a broadcast
      semi-join prunes branches before the dedup window ever runs (city is
      branch-level, so filtering whole locations first is
      semantics-preserving, and the predicate reaches the nation scan as a
      pushed filter);
    - the response predicate prunes services before the service × branch
      fan-out (response ids derive from the service's own tags, so no later
      stage can resurrect a filtered service).

    At 100× scale this is the difference between computing the whole cards
    fan-out to return a handful of rows and never materializing out-of-city
    branches at all. (The written-table equivalent is a
    ``write_clustered``-partitioned card_data read with partition pruning.)
    """
    orgs = FIX.organizations(spark, sf_dir)
    locs = FIX.locations(spark, sf_dir)
    brs = FIX.branches(spark, sf_dir)
    svcs = FIX.services(spark, sf_dir)
    loc_in_city = locs.filter(F.col("city") == city).select(F.col("key").alias("location"))
    brs_f = brs.join(F.broadcast(loc_in_city), "location", "left_semi")
    svcs_f = svcs.filter(F.exists("responses", lambda x: x.contains(response_token)))
    # the pruned flat_branches feeds BOTH flat_services and flat_table — the
    # same double-consumer shape run_derive persists for the full DAG; the
    # session slot keeps repeated searches from recomputing the branch ⋈
    # location ⋈ org dedup. fb's plan depends only on (sf_dir, city), so a
    # different city evicts the slot while a response-only change reuses it
    # (the response predicate prunes services, downstream of fb). Callers
    # that rewrite the sf_dir fixtures in place mid-session call
    # session_cache.release_all first.
    from ..operators.session_cache import keep_persisted  # noqa: PLC0415

    fb = keep_persisted(flat_branches(brs_f, locs, orgs), "card_search_fb")
    ft = flat_table(flat_services(svcs_f, fb), fb)
    return card_data(ft)


def run_derive(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build every derive stage from the staging fixtures, with the two
    multi-consumer stages pinned as LAZY lineage-truncating checkpoints:

    - **flat_branches** feeds BOTH flat_services and flat_table (the
      reference materializes this stage to disk for the same reason,
      to_dp.py:405);
    - **flat_table** fans into card_data, card_data_full's three explode
      legs, and the autocomplete corpus (the reference dumps it too,
      to_dp.py:697).

    ``keep_checkpointed_pooled`` (not persist): with a persist every
    consumer's physical plan still NESTS the full upstream subtree — the
    composed flagships (q75/q158/q161/q165) carried hundreds of runtime
    exchange nodes and, worse, after the harness's between-query
    ``release_all`` a module-level memo kept serving frames whose cache was
    gone, so every fan-out branch recomputed the whole DAG (the honest
    r12 re-pricing: q75 at 11.2 s driver). With a checkpoint pin each
    consumer's plan bottoms out at a block scan, the stage computes exactly
    once per release cycle, and the plan-keyed pool IS the memo — warm
    repeats within a cycle reuse it, ``release_all`` drops it, the next
    query rebuilds it cold. ``eager=False`` defers the stage compute to the
    first downstream action so callers that never touch a stage never pay
    for it. (Semantic anchor: the reference's own stage materialization,
    to_dp.py:922-935.)

    The card surfaces are not in the map: their plans are large (~1 s of
    driver-side construction) and most consumers read only the flat
    stages, so a caller that needs one builds ``card_data(ft)`` or
    ``card_data_full(ft)`` itself, once."""
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    orgs = FIX.organizations(spark, sf_dir)
    locs = FIX.locations(spark, sf_dir)
    brs = FIX.branches(spark, sf_dir)
    svcs = FIX.services(spark, sf_dir)
    fb = keep_checkpointed_pooled(flat_branches(brs, locs, orgs), "derive_stages", eager=False)
    fs = flat_services(svcs, fb)
    ft = keep_checkpointed_pooled(flat_table(fs, fb), "derive_stages", eager=False)
    return {"flat_branches": fb, "flat_services": fs, "flat_table": ft}
