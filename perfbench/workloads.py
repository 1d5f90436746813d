"""The two workloads. Each is a function ``(run) -> None`` that drives the
package through its public API, records timings on ``run`` and checks
every output (outside the timed regions) with ``run.check``.

- ``log_lake``: the write path. A pass rebuilds bronze and the lake from
  the base log (``run_pipeline`` + ``init_lake``), MERGEs one increment in
  batch (``incremental_update``), drains another landed increment through
  ``stream_fct_maintenance`` and ends with ``compact`` + ``vacuum``. Each
  increment adds a day and late lines for an earlier day, and is timed
  from hand-over until a dashboard read sees it.
- ``llm_curate``: the compute path. A pass runs the curation entries in a
  fixed order in warm mode, then the program's incremental near-duplicate
  flow (``incremental_minhash_pairs``): a new shard of documents is matched
  against the corpus' persisted MinHash signature index, timed until its
  pairs are collected.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import shutil
import statistics

#: Curation entries, run in this order each pass. A run must fit about a
#: minute on a 4-core host, so the heaviest first calls are left out:
#: dedup_semantic_pairs (~8 s cold), user_pagerank (~3 s per warm call;
#: user_wcc stands for the graph family) and top_customers_by_revenue
#: (relational, not curation).
CURATE_ENTRIES = (
    "dedup_minhash_pairs",
    "ann_knn_join",
    "doc_token_stats",
    "doc_curation_summary",
    "user_wcc",
    "streaming_user_sessions",
)
#: The incremental entry timed as llm_curate's freshness_s.
INCREMENTAL_ENTRY = "incremental_minhash_pairs"
#: The corpus tables those entries read; warm mode caches them at set-up.
CURATE_TABLES = ("documents", "embeddings", "events")

# --- helpers ---------------------------------------------------------------


def _date_str(v) -> str:
    return v.isoformat() if hasattr(v, "isoformat") else str(v)


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def same_rows(a, b) -> bool:
    """Order-insensitive row equality; floats agree to 1e-9 relative (the
    two engines interpolate percentiles and round rates in their own
    arithmetic)."""
    a = sorted(tuple(_norm(v) for v in r) for r in a)
    b = sorted(tuple(_norm(v) for v in r) for r in b)
    return len(a) == len(b) and all(
        len(x) == len(y) and all(
            math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9)
            if isinstance(u, float) or isinstance(v, float) else u == v
            for u, v in zip(x, y))
        for x, y in zip(a, b))


def _latest_dir(lake) -> str:
    """Directory of the lake's published snapshot (``{root}/{table}/v{N}``)."""
    return os.path.join(lake.path, f"v{lake.latest_version()}")


def _fact_rows(df) -> list[tuple]:
    return sorted((_date_str(r["date"]), r["hour"], r["endpoint"], r["requests"],
                   r["errors"], float(r["p95_bytes"])) for r in df.collect())


class Expected:
    """What the lake must contain after a prefix of the generated files,
    from the generator's counts and DuckDB over its records."""

    def __init__(self, data_dir: str):
        with open(os.path.join(data_dir, "expected.json")) as fh:
            self.meta = json.load(fh)
        self.records = os.path.join(data_dir, "records.parquet")

    def sql(self, files: list[str], query: str) -> list[tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            names = ", ".join(f"'{f}'" for f in files)
            con.execute(
                "CREATE VIEW fct AS SELECT date, hour, endpoint, count(*) AS requests, "
                "sum(CASE WHEN status >= 400 THEN 1 ELSE 0 END) AS errors, "
                "quantile_cont(bytes, 0.95) AS p95_bytes "
                f"FROM read_parquet('{self.records}') WHERE file IN ({names}) "
                "GROUP BY ALL"
            )
            return con.execute(query).fetchall()
        finally:
            con.close()

    def fact(self, files: list[str]) -> list[tuple]:
        counts = self.meta["after"][files[-1]]
        p95 = {(d, h, e): p for d, h, e, p in self.sql(
            files, "SELECT date, hour, endpoint, p95_bytes FROM fct")}
        return sorted((d, h, e, n, err, float(p95[(d, h, e)])) for d, h, e, n, err in counts)

    def day_requests(self, files: list[str], day: str) -> int:
        return sum(n for d, _, _, n, _ in self.meta["after"][files[-1]] if d == day)

    def days(self, files: list[str]) -> list[str]:
        return sorted({row[0] for row in self.meta["after"][files[-1]]})


# --- log_lake --------------------------------------------------------------


def _log_lake_pass(run, data: str, exp: Expected, tag: str, files: list[str]) -> dict:
    from mini_log_lakehouse_spark.operators import serve
    from mini_log_lakehouse_spark.plans.pipeline import incremental_update, init_lake, run_pipeline
    from mini_log_lakehouse_spark.streaming.lake import stream_fct_maintenance

    spark, tr = run.spark, run.tracer
    w = run.fresh_dir(f"pass-{tag}")
    bronze, lake_root = os.path.join(w, "bronze"), os.path.join(w, "lake")
    landing, ckpt = os.path.join(w, "landing"), os.path.join(w, "ckpt")
    os.makedirs(landing)
    info = {}

    def visible(applied: list[str], day: str) -> None:
        # A dashboard read of the increment's new day; the check runs after
        # the timed region closes.
        with run.call("operators.serve.kpi_totals"):
            row = serve.kpi_totals(lake.read(), day).collect()[0]
        info.setdefault("reads", []).append((list(applied), day, row["total_requests"]))

    with run.call("bench.pipeline"):
        run_pipeline(spark, os.path.join(data, "base.log"), bronze)
    info["bronze_bytes"] = _du(bronze) if tr.enabled else 0
    with run.call("plans.models"):
        lake = init_lake(spark, bronze, lake_root)
    applied = ["base.log"]
    batch, streamed = files[1:-1], files[-1:]
    for name in batch:
        day = exp.days(applied + [name])[-1]
        with tr.span("bench.freshness"):
            with run.call("plans.incremental_update"):
                incremental_update(spark, os.path.join(data, name), bronze, lake_root)
            applied.append(name)
            visible(applied, day)
        if tr.enabled:
            info.setdefault("merge_bytes", []).append(
                _du(_latest_dir(lake)))
    for name in streamed:
        day = exp.days(applied + [name])[-1]
        with tr.span("bench.freshness"):
            shutil.copy(os.path.join(data, name), os.path.join(landing, name))
            with run.call("streaming.drain"):
                stream_fct_maintenance(spark, landing, bronze, lake_root, ckpt)
            applied.append(name)
            visible(applied, day)
    info["lake_files"] = _parquet_files(_latest_dir(lake))
    with run.call("plans.compact"):
        lake.compact()
    with run.call("plans.vacuum"):
        lake.vacuum()
    info.update(bronze=bronze, lake_root=lake_root, lake=lake, applied=applied)
    return info


def log_lake(run) -> None:
    with run.untimed():
        from perfbench import gen_logs

        data = gen_logs.generate(run.cache, run.seed, base_lines=20_000, days=7,
                                 increments=2)
    exp = Expected(data)
    files = exp.meta["files"]
    run.start()
    run.setup_done()

    def one_pass(tag):
        return _log_lake_pass(run, data, exp, tag, files)

    infos = run.passes(one_pass)
    last = infos[-1]
    for info in infos:
        for applied, day, got in info["reads"]:
            run.check(f"fresh read of {day} after {applied[-1]}",
                      got == exp.day_requests(applied, day))

    # Final fact = generator counts, p95 = DuckDB over the same records.
    lake = last["lake"]
    final = _fact_rows(lake.read())
    run.check("final fact equals generator counts and DuckDB p95",
              same_rows(final, exp.fact(files)))
    # Bronze keeps every well-formed line; the parser drops exactly the
    # injected malformed and blank lines.
    from mini_log_lakehouse_spark.sources.logs import read_bronze

    raw_lines = sum(1 for f in files for _ in open(os.path.join(data, f)))
    bronze_rows = read_bronze(run.spark, last["bronze"]).count()
    dropped = raw_lines - bronze_rows
    run.layer["sources.rows_dropped"] = dropped
    run.check("rows dropped equal injected bad + blank lines",
              dropped == sum(exp.meta["dropped"].values()))
    # Replaying an applied increment leaves the lake's content unchanged.
    from mini_log_lakehouse_spark.plans.pipeline import incremental_update

    v0 = lake.latest_version()
    incremental_update(run.spark, os.path.join(data, files[1]), last["bronze"], last["lake_root"])
    run.check("replayed increment leaves the lake unchanged",
              lake.latest_version() > v0 and same_rows(_fact_rows(lake.read()), final))

    # Per-layer figures that need the traced run's inputs.
    base_bytes = os.path.getsize(os.path.join(data, "base.log"))
    warm = infos[1:]
    run.layer["sources.bronze_bytes_per_raw_byte"] = statistics.median(
        i["bronze_bytes"] for i in warm) / base_bytes
    run.layer["plans.lake_files"] = statistics.median(i["lake_files"] for i in warm)
    run.inputs["base_bytes"] = base_bytes
    if run.tracer.enabled:
        run.inputs["merge_bytes"] = statistics.median(b for i in warm for b in i["merge_bytes"])
        run.inputs["increment_bytes"] = statistics.mean(
            os.path.getsize(os.path.join(data, f)) for f in files[1:-1])


# --- llm_curate -------------------------------------------------------------


def _layer(fn) -> str:
    """``operators`` or ``streaming``: the package module defining ``fn``."""
    return fn.__module__.split(".")[1]


def llm_curate(run) -> None:
    from mini_log_lakehouse_spark.entry_registry import QUERIES
    from mini_log_lakehouse_spark.sources.registry import load_table

    with run.untimed():
        from perfbench import gen_tables

        sf_dir = gen_tables.generate(run.cache, run.seed)

    run.start()
    # The program's set-up in warm mode: load and cache the corpus.
    for table in CURATE_TABLES:
        with run.tracer.span("sources.table_load", key=(sf_dir, table)):
            load_table(run.spark, sf_dir, table).count()
    run.setup_done()

    def one_pass(_tag):
        out = {}
        for name in CURATE_ENTRIES:
            with run.call(f"{_layer(QUERIES[name])}.{name}"):
                df = QUERIES[name](run.spark, sf_dir)
                out[name] = (df.columns, df.collect())
        # A new shard arrives: its near-duplicate pairs against the index of
        # the corpus ingested so far (built in the first pass, reattached
        # after) are fresh once collected.
        with run.tracer.span("bench.freshness"):
            with run.call(f"operators.{INCREMENTAL_ENTRY}"):
                df = QUERIES[INCREMENTAL_ENTRY](run.spark, sf_dir)
                out[INCREMENTAL_ENTRY] = (df.columns, df.collect())
        return out

    results = run.passes(one_pass)
    first, last = results[0], results[-1]
    for name in CURATE_ENTRIES + (INCREMENTAL_ENTRY,):
        columns, rows = first[name]
        run.check_oracle(name, rows, sf_dir, columns)
        run.check(f"{name}: the last warm pass returns the first pass's rows",
                  same_rows(last[name][1], rows))
    run.layer["operators.dedup_minhash_pairs_rows"] = len(first["dedup_minhash_pairs"][1])


WORKLOADS = {"log_lake": log_lake, "llm_curate": llm_curate}
