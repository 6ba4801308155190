"""``analytics``: a pass over declared queries (``registry`` +
``queries.*``) on tables generated from the seed, written to the
``noop`` sink.

The tables have the shapes and value domains of the repository's
TPC-H-like fixtures (TESTDATA.md) at a small scale, so a pass is short
enough to repeat within a run.  Set-up includes building the persisted
``.fixture_cache`` artifact the listed queries read, into a cache
directory that no earlier run has touched, so every run, on any commit,
starts from the same (empty) cache state.  Outputs are checked outside
the timed passes against the DuckDB oracle (``tools/check_oracle.py``).
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.probe import Outcome, median

# The heaviest oracle-checked query of three queries/ modules, plus one
# oracle-checked query that reads a persisted fixture-cache artifact.
QUERIES = {
    "agg_groupby_pricing": "relational",
    "dedup_span_exact": "training",
    "window_ewma_dyadic": "analytics",
    "source_csv_scan": "sources_q",
}
ARTIFACT_QUERIES = ("source_csv_scan",)
QUERY_LAYERS = [f"queries.{m}.{q}_s" for q, m in QUERIES.items()]

SCALE = 0.005  # of TPC-H sf1 row counts

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join small big order group data column query stream "
    "filter customer vector"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def generate_tables(directory: str, seed: int) -> None:
    """One parquet file per table, as ``tables.table`` reads them."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory)
    n_cust, n_supp, n_part = int(150_000 * SCALE), int(10_000 * SCALE), int(200_000 * SCALE)
    n_ord, n_line = int(1_500_000 * SCALE), int(6_000_000 * SCALE)
    n_events, n_docs, n_vecs = int(1_000_000 * SCALE), int(50_000 * SCALE), int(50_000 * SCALE)
    pick = lambda values, n: np.array(values, dtype=object)[rng.integers(0, len(values), n)]  # noqa: E731
    int32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": int32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": int32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": int32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": int32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": int32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["small", "red", "large", "blue", "shiny"], n_part),
                pick(["ring", "widget", "bolt", "gear", "valve"], n_part),
            )],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": int32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": int32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _dates(rng, "1995-01-02", 2500, n_line),
        },
        "events": {
            "event_id": np.arange(n_events),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, n_events // 66), n_events),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_events),
            "value": _money(rng, 0.01, 490, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": {
            "vec_id": np.arange(n_vecs),
            "embedding": pa.array(
                list(rng.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": int32(rng.integers(0, 10, n_vecs)),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Word-salad documents.  Every fifth shares a long run of another
    document's text and every tenth (the incremental-dedup batch slice,
    doc_id % 10 == 7) is a near copy of an earlier one, so the dedup
    queries find spans and pairs to match."""
    texts: list[str] = []
    for i in range(n):
        words = list(rng.choice(WORDS, rng.integers(8, 80)))
        if i % 10 == 7:
            words = texts[i - 5].split() + ["copy"]
        elif i % 5 == 4:
            words += texts[i - 3].split()[:40]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"], dtype=object)[rng.integers(0, 6, n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts]),
    }


def _oracle_checker():
    """tools/check_oracle.py, imported by path (tools/ is no package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_analytics(h, seconds: float, seed: int) -> Outcome:
    from kinesis_handler_spark.registry import all_oracles, all_queries

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # a directory name no earlier run used: its fixture-cache entry
    # (keyed by this name) starts empty on every run
    sf_dir = os.path.join(h.work, f"sfbench-{seed}-{os.getpid()}")
    cache_dir = os.path.join(root, ".fixture_cache", os.path.basename(sf_dir))
    generate_tables(sf_dir, seed)
    h.log("tables written")
    queries = all_queries()
    all_oracles()

    def noop(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](h.spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def build_artifacts() -> float:
        """First evaluation of each artifact-reading query: builds its
        artifact into the empty cache."""
        t0 = time.perf_counter()
        for name in ARTIFACT_QUERIES:
            noop(name)
        return time.perf_counter() - t0

    try:
        # set-up = session start (median of repeats) + one artifact build
        setup = h.time_setup(h.restart_session)
        build_s = build_artifacts()
        setup += build_s
        h.log("set up")
        checker = _oracle_checker()
        con = checker.duckdb_conn(sf_dir)
        failed, verdicts = 0, {}
        for name in QUERIES:  # the checked pass doubles as the warm-up
            ok, msg = checker.check_query(h.spark, con, name, sf_dir)
            verdicts[name] = msg
            failed += not ok
        h.log("checked")
        cpu0 = h.cpu_s()
        per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        passes: list[float] = []
        # whole passes until the window has passed
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            t0 = time.perf_counter()
            for name in QUERIES:
                per_query[name].append(noop(name))
            passes.append(time.perf_counter() - t0)
        cpu_s = (h.cpu_s() - cpu0) / len(passes)
        h.log(f"{len(passes)} passes")
        h.calibrate("end")
    finally:
        shutil.rmtree(cache_dir, ignore_errors=True)
    result = Outcome(
        attempted=len(QUERIES),
        failed=failed,
        setup_s=setup,
        items_per_s=len(QUERIES) / median(passes),
        # one sample per query, its median over the passes: a pass has
        # too few queries for a percentile over single evaluations
        latencies=[median(ts) for ts in per_query.values()],
        cpu_s=cpu_s,
        summary={
            "analytics_s": (median(passes), "s"),
            "passes": (len(passes), "count"),
            "queries": verdicts,
        },
    )
    if h.tracer is not None:
        result.layers.update({
            f"queries.{m}.{q}_s": median(per_query[q]) for q, m in QUERIES.items()
        })
        result.layers["fixtures.build_s"] = build_s
    return result
