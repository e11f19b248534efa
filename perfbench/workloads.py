"""The benchmark's workloads, their output checks and the DuckDB certification.

A pass of every workload starts with ``release_all(spark)``, so each pass
pays the pin builds a scheduled refresh pays. The program is reached only
through ``plans.REGISTRY``, ``pipelines.es_publish.operator_publish_all``,
``sinks.es`` and ``operators.session_cache``.

Outputs are checked without collecting them inside the timed region: every
query ends in one Spark aggregate, a row count plus an order-insensitive
checksum (``bit_xor`` and a wrap-free ``sum(pmod(.., 2^31))`` of a per-row
``xxhash64``; a plain ``sum`` of the hash overflows under ANSI mode). The
warm-up pass of a run is certified after its timer stops, against each
query's DuckDB oracle over the same tables (``certify_query``). Later passes
must reproduce the certified count and checksum. ``es_publish`` is checked by
replaying every spool with ``sinks.es.replay_index_state``: each index's
documents are certified against the q161 oracle (the same six surfaces
computed in SQL) as (key, signature) pairs, the signature built from the
replayed fields exactly as q161's Spark side builds it; the per-index
checksum of every field (revision stripped) must repeat on later passes.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import shutil

ETL_QUERIES = ["q137_meser_streaming_staging", "q165_etl_end_to_end"]
CORPUS_QUERIES = [
    "q22_exact_dedup",
    "q26_minhash_dedup",
    "q109_substring_spans",
    "q171_semdedup_production",
    "q95_rag_retrieval",
]
# ES index -> (q161 oracle phase, key prefix, document field behind the key)
ES_INDEXES = {
    "srm__cards": ("10_cards", "card:", "card_key"),
    "srm__places": ("20_places", "pl:", "key"),
    "srm__responses": ("30_responses", "r:", "id"),
    "srm__situations": ("40_situations", "s:", "id"),
    "srm__orgs": ("50_orgs", "o:", "id"),
    "srm__autocomplete": ("60_autocomplete", "ac:", "qid"),
}
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def checksum(df) -> tuple[int, int, int]:
    """(rows, xor, sum) of a per-row hash, computed by one Spark aggregate.
    Floating columns enter as 11 significant digits, so a last-bit change
    in summation order cannot flip the checksum."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import DoubleType, FloatType  # noqa: PLC0415

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.format_string("%.10e", c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\u0000")))
    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0), int(row["s"] or 0)


# -- oracle certification (outside the timed region) ------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def _row_hash(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha1()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB views over the generated tables, for certifying outputs."""

    def __init__(self, sf_dir: str, threads: int):
        import duckdb  # noqa: PLC0415

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def rows(self, sql: str):
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()


def certify_query(ctx, name: str, df, cs: tuple) -> str | None:
    """None when the oracle agrees with the Spark output, else the reason.

    The output is collected and compared with the oracle's rows value by
    value, normalised as the engine's own correctness gate does."""
    from srm_etl_spark.plans import REGISTRY  # noqa: PLC0415

    ocols, orows = ctx.oracle.rows(REGISTRY[name].oracle)
    if len(orows) != cs[0]:
        return f"rows: spark {cs[0]} vs oracle {len(orows)}"
    if sorted(ocols) != sorted(df.columns):
        return f"columns: spark {sorted(df.columns)} vs oracle {sorted(ocols)}"
    if _row_hash(df.columns, df.collect()) != _row_hash(ocols, orows):
        return "value hash differs from the oracle"
    return None


# -- workloads -----------------------------------------------------------------


class QueryWorkload:
    """A pass constructs each query and runs its checksum action."""

    def __init__(self, queries: list[str]):
        self.queries = queries
        self.certified: dict[str, tuple] = {}

    def run_pass(self, ctx, tracer) -> dict:
        from srm_etl_spark.plans import REGISTRY  # noqa: PLC0415

        out = {"attempted": 0, "failed": 0, "rows": 0, "errors": [], "frames": {}}
        for name in self.queries:
            out["attempted"] += 1
            try:
                with tracer.span("pipelines.construct", query=name):
                    df = REGISTRY[name].spark(ctx.spark, ctx.sf_dir)
                with tracer.span("exec.action", query=name):
                    cs = checksum(df)
            except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
                out["failed"] += 1
                out["errors"].append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            out["frames"][name] = (df, cs)
            out["rows"] += cs[0]
        return out

    def check_pass(self, ctx, result: dict) -> None:
        """Certify the first successful output of each query against the
        oracle; later outputs must repeat the certified checksum."""
        for name, (df, cs) in result.pop("frames").items():
            if name not in self.certified:
                why = certify_query(ctx, name, df, cs)
                if why is None:
                    self.certified[name] = cs
            elif cs != self.certified[name]:
                why = f"checksum {cs} differs from the certified {self.certified[name]}"
            else:
                why = None
            if why is not None:
                result["failed"] += 1
                result["rows"] -= cs[0]
                result["errors"].append(f"{name}: {why}")


class EsPublishWorkload:
    """A pass is ``operator_publish_all`` into a fresh spool per index."""

    def __init__(self):
        self.certified: dict[str, tuple] = {}

    def run_pass(self, ctx, tracer) -> dict:
        from srm_etl_spark.pipelines.es_publish import operator_publish_all  # noqa: PLC0415
        from srm_etl_spark.sinks.es import recording_sweep, spool_ship  # noqa: PLC0415

        base = os.path.join(ctx.run_dir, f"spool-{tracer.pass_id}")
        os.makedirs(base)

        def ship_factory(index: str):
            d = os.path.join(base, index)
            os.makedirs(d)
            return spool_ship(d)

        sweeps: list = []
        out = {"attempted": len(ES_INDEXES), "failed": 0, "rows": 0, "errors": []}
        try:
            with tracer.span("pipelines.construct", query="operator_publish_all"):
                revisions = operator_publish_all(
                    ctx.spark, ctx.sf_dir, ship_factory, recording_sweep(sweeps),
                    settle_seconds=0,
                )
        except Exception as ex:  # noqa: BLE001
            out["failed"] = len(ES_INDEXES)
            out["errors"].append(f"operator_publish_all: {type(ex).__name__}: {str(ex)[:200]}")
            shutil.rmtree(base, ignore_errors=True)
            return out
        out["spool"], out["revisions"], out["sweeps"] = base, revisions, sweeps
        return out

    def check_pass(self, ctx, result: dict) -> None:
        from pyspark.sql import functions as F  # noqa: PLC0415
        from srm_etl_spark.sinks.es import replay_index_state, sweep_revision  # noqa: PLC0415

        base = result.pop("spool", None)
        if base is None:
            return
        revisions, sweeps = result.pop("revisions"), result.pop("sweeps")
        swept = {index: sweep_revision(body) for index, body in sweeps}
        spool_bytes = 0
        oracle_sigs = None
        for index, (phase, prefix, key_field) in ES_INDEXES.items():
            d = os.path.join(base, index)
            files = sorted(os.listdir(d))
            spool_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in files)
            why = None
            if swept.get(index) != revisions.get(index):
                why = "revision sweep does not keep the published revision"
            elif not files:
                why = "nothing was spooled"
            if why is None:
                # to_json drops null fields, so take the union over all docs
                fields = set()
                for f in files:
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        for line in fh:
                            fields.update(json.loads(line.split("\t", 1)[1]))
                fields.discard("revision")
                ddl = ", ".join(f"`{k}` {_SIG_TYPES.get(k, 'string')}" for k in sorted(fields))
                state = replay_index_state(ctx.spark, [(0, d)], ddl)
                cs = checksum(state)
                if index not in self.certified:
                    if oracle_sigs is None:
                        oracle_sigs = _q161_sigs(ctx.oracle)
                    pairs = sorted(
                        (prefix + r[0], r[1])
                        for r in state.select(
                            F.col(key_field).cast("string"), _es_sig(index)
                        ).collect()
                    )
                    expected = oracle_sigs.get(phase, [])
                    if pairs != expected:
                        bad = len(set(pairs) ^ set(expected))
                        why = (
                            f"{len(pairs)} docs vs the oracle's {len(expected)}; "
                            f"{bad} (key, signature) pairs differ"
                        )
                    else:
                        self.certified[index] = cs
                elif cs != self.certified[index]:
                    why = f"content checksum {cs} differs from the certified one"
            if why is None:
                result["rows"] += cs[0]
            else:
                result["failed"] += 1
                result["errors"].append(f"{index}: {why}")
        result["spool_mb"] = spool_bytes / float(1 << 20)
        result["docs"] = result["rows"]
        shutil.rmtree(base, ignore_errors=True)


# document fields that q161's signatures format as numbers; every other
# field replays as a string (a JSON number or boolean read as a string keeps
# its literal text, which is what q161's string cast gives)
_SIG_TYPES = {
    "card_score": "double",
    "score": "double",
    "bounds": "array<double>",
    "count": "bigint",
}


def _es_sig(index: str):
    """The signature column q161's Spark side builds for ``index``'s rows,
    over the replayed documents."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    def s(c):
        col = F.col(c) if isinstance(c, str) else c
        return F.coalesce(col.cast("string"), F.lit(""))

    bounds = [F.element_at("bounds", i) for i in range(1, 5)]
    taxonomy = [s("name"), s("synonyms"), s("breadcrumbs"), s("count")]
    legs = {
        "srm__cards": [
            F.format_string("%.6f", F.col("card_score")),
            s("airtable_last_modified"), s("service_name"),
            s("branch_city"), s("organization"),
        ],
        "srm__places": [
            s("query"), s("place"), F.format_string("%.4f", F.col("score")),
            F.format_string("[%.5f,%.5f,%.5f,%.5f]", *bounds),
        ],
        "srm__responses": taxonomy,
        "srm__situations": taxonomy,
        "srm__orgs": [
            s("name"), s("description"), s("kind"), s("count"), s(F.col("count") * 10),
        ],
        "srm__autocomplete": [
            s("query"), s("n"), F.format_string("%.6f", F.col("score")), s("low"),
        ],
    }
    return F.concat_ws("|", *legs[index])


def _q161_sigs(oracle: Oracle) -> dict[str, list[tuple[str, str]]]:
    """q161's oracle rows as sorted (key, signature) pairs per phase."""
    from srm_etl_spark.plans import REGISTRY  # noqa: PLC0415

    cols, rows = oracle.rows(REGISTRY["q161_es_publish_surfaces"].oracle)
    phase_i, key_i, sig_i = cols.index("phase"), cols.index("key"), cols.index("sig")
    sigs: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        sigs.setdefault(r[phase_i], []).append((r[key_i], r[sig_i]))
    return {p: sorted(v) for p, v in sigs.items()}


def make(name: str):
    if name == "etl_refresh":
        return QueryWorkload(ETL_QUERIES)
    if name == "corpus_dedup":
        return QueryWorkload(CORPUS_QUERIES)
    if name == "es_publish":
        return EsPublishWorkload()
    raise ValueError(f"unknown workload {name!r}")
