"""Workload ``corpus_queries``: the 16 headline corpus/relational queries.

The tables the queries read (lineitem, orders, supplier, nation,
region, documents, embeddings) are generated from the seed at the size
of the smallest shipped fixture (6,000 line items, 500 documents, 500
64-d embeddings) with the declared column types of
``__spark_entry__._TESTDATA_SCHEMAS``, and written as one parquet file
per table. DuckDB runs each query's ``oracle_sql()`` over the same files
once during set-up.

One query is built with ``__spark_entry__.queries()`` and its rows
fetched with ``toPandas()``, cold cache (operator scratch frames and the
Spark cache are released between queries) inside a JVM warmed by one
untimed pass. One operation is a pass of all 16 queries, closed-loop;
``measured_passes(seconds)`` passes run (whole passes only: the queries
differ tenfold in cost, so a partial pass would change the mix). Every
result is compared with its oracle outside the timed region; a query
that fails or differs is a failed attempt.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bench import HEADLINE  # the 16 headline queries of bench.py
from perfbench import stats

# queries whose plans carry Arrow/Python nodes (rows crossing reported)
ARROW_QUERIES = ("simhash", "lsh_topk", "embedding_near_dup")
TABLES = ["region", "nation", "supplier", "orders", "lineitem", "documents", "embeddings"]
SIZES = {"orders": 1500, "lineitem": 6000, "documents": 500, "embeddings": 500}
SETUP_REPEATS = 3
PASS_S = 15.0  # wall of a warm pass on a 4-CPU host: sizes the measured pass count

VOCAB = (
    "the a scan column window order sort part agg value line key join merge "
    "group query vector hash slow stream filter fast batch spark table small "
    "data big customer row"
).split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def measured_passes(seconds: float) -> int:
    """The number of passes that fill about ``seconds`` seconds."""
    return max(1, round(seconds / PASS_S))


def _days(rng, start: dt.date, end: dt.date, n: int) -> list[dt.datetime]:
    span = (end - start).days
    base = dt.datetime(start.year, start.month, start.day)
    return [base + dt.timedelta(days=int(d)) for d in rng.integers(0, span + 1, n)]


def _documents(rng) -> list[str]:
    """Word-salad texts of 8-70 words. About one in twelve is an earlier
    text of at least 20 words with a token appended (word-3-gram Jaccard
    above 0.94, so banded LSH finds it with near certainty) and one in
    forty an exact copy; unrelated texts share almost no 3-grams. The
    dedup and near-dup queries therefore find pairs, and none sits near
    their 0.5 threshold, where banded candidate generation can miss."""
    texts: list[str] = []
    long_ids: list[int] = []
    for i in range(SIZES["documents"]):
        r = rng.random()
        if long_ids and r < 0.025:
            texts.append(texts[int(rng.integers(0, i))])
        elif long_ids and r < 0.11:
            texts.append(texts[long_ids[int(rng.integers(0, len(long_ids)))]] + " dup")
        else:
            n = int(rng.integers(8, 71))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n)))
            if n >= 20:
                long_ids.append(i)
    return texts


def generate(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nl, no = SIZES["lineitem"], SIZES["orders"]
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS, s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(10), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(10)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, 10), i32),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, 10), 2), f64),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": pa.array(rng.integers(0, 150, no), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2), f64),
            "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, 200, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, 10, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
            "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl), ts),
        }),
    }
    texts = _documents(rng)
    nd = len(texts)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, nd), s),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    ne = SIZES["embeddings"]
    vecs = rng.normal(size=(ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(ne), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), i32),
    })
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        # one row group per file, like the shipped fixtures
        pq.write_table(t, f"{sf_dir}/{name}.parquet", row_group_size=max(1, t.num_rows))


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted frame with normalized dtypes (the
    comparison the repository's oracle parity test makes)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact equality of two canonical frames: columns, row count, values."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=0
        )
    except AssertionError:
        return False
    return True


def oracle_results(sf_dir: str, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: canonical(con.sql(oracles[name]).df()) for name in HEADLINE}
    finally:
        con.close()


def _release(spark) -> None:
    from tbbid_scrapy_spark.operators import scratch

    scratch.release()
    spark.catalog.clearCache()


def run(spark, seed: int, seconds: float, work_dir: str, tracer=None) -> dict:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    setup_times = []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        sf_dir = os.path.join(work_dir, f"corpus-{rep}")
        write_tables(generate(seed), sf_dir)
        setup_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    want = oracle_results(sf_dir, oracles)
    oracle_s = time.perf_counter() - t0

    failed, correct = 0, True

    def one_pass() -> list[dict]:
        ops = []
        for name in HEADLINE:
            t0e, t0 = time.time(), time.perf_counter()
            sid = pdf = None
            try:
                if tracer is not None:
                    with tracer.span(f"query.{name}") as sid:
                        pdf = queries[name](spark, sf_dir).toPandas()
                else:
                    pdf = queries[name](spark, sf_dir).toPandas()
            except Exception as e:  # a failing query is a failed operation
                print(f"# {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            wall, t1e = time.perf_counter() - t0, time.time()
            _release(spark)
            ops.append({"name": name, "wall_s": wall, "t0": t0e, "t1": t1e,
                        "span": sid, "pdf": pdf})
        return ops

    # warm-up: every query once, from one thread per core — untimed
    # set-up whose cost is mostly driver-side planning and code
    # generation, which overlaps across threads
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=stats.nproc()) as ex:
        futures = [ex.submit(lambda q=q: queries[q](spark, sf_dir).toPandas()) for q in HEADLINE]
        warm = [f.result() for f in futures]
    _release(spark)
    for name, pdf in zip(HEADLINE, warm):
        if not same_result(canonical(pdf), want[name]):
            print(f"# {name}: warm-up result differs from its DuckDB oracle", file=sys.stderr)
            correct = False
    warmup_s = time.perf_counter() - t0

    ops: list[dict] = []
    pass_walls: list[float] = []
    pass_cpus: list[float] = []
    for _ in range(measured_passes(seconds)):
        cpu0 = stats.tree_cpu_s()
        done = one_pass()
        pass_cpus.append(stats.tree_cpu_s() - cpu0)
        pass_walls.append(sum(o["wall_s"] for o in done))
        for o in done:
            pdf = o.pop("pdf")
            if pdf is not None and not same_result(canonical(pdf), want[o["name"]]):
                print(f"# {o['name']}: result differs from its DuckDB oracle", file=sys.stderr)
                pdf = None
            failed += pdf is None
        ops.extend(done)
    return {
        "setup_fixture_s": stats.median(setup_times) + oracle_s,
        "warmup_s": warmup_s,
        "ops": ops,
        "attempted": len(ops),
        "op_walls": pass_walls,
        "op_cpus": pass_cpus,
        "work_items": len(ops),
        "correct": correct and not failed,
        "failed": failed,
    }
