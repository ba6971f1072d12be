"""The crawl wave loop — partition-parallel frontier expansion.

Re-expresses the reference's asynchronous callback crawl
(/root/reference/xizang/spiders/bid_info.py and friends; SURVEY.md §3) as
a driver-side loop over declarative DataFrame waves:

    wave w:
      1. batch    = politeness-ranked slice of pending frontier rows
      2. order    = global fetch order (priority desc, discovery wave, seq)
                    — distributed dense index, no single-task window
      3. fetch    = equi-join batch ↔ site documents on canonical URL
                    (the sandbox 'fetch' — a real deployment swaps in an
                    HTTP mapInPandas with the same row contract)
      4. states   = fetched / failed / retry (attempts+1, 5xx only,
                    ≤4 total fetches = first attempt + RETRY_TIMES=3
                    retries — settings.py:77-79 semantics)
      5. parse    = explode spans of 200-pages; links (listing pages in
                    REVERSE span order — bid_info.py:90) become children
      6. children = resolve+canonicalize (JVM first; only non-plain links
                    cross to the Arrow UDF) → robots filter →
                    in-batch first-discovery dedup → seen-set dedup
                    (exact anti-join, or for bloom | hybrid | cuckoo ONE
                    fused test+insert pass whose shard rows are the
                    wave's new shards; hybrid exact-confirms its
                    positives) → enqueue seq (packed key; the dense
                    index past its bounds) → append pending
      7. commit   = two per-wave DELTAS — the new seen URLs and the wave
                    LOG (the fetched batch after the settle expressions,
                    with fetch position, status, spans and partition id)
                    — + live-pending snapshot, made visible by ONE atomic
                    manifest flip → lossless resume point whose I/O is
                    O(wave), not O(total state)

Performance discipline: each wave materializes exactly two intermediates
(the fetched batch and the new children — both needed by several
downstream branches), tracks the global sequence counter on the driver
(an int, not an agg job), and takes row counts from the dense-index pass
that already ran. It is planned statically: ``run()`` turns AQE off for
its duration (the engine sizes every width from its own row estimate,
salts the hot host itself and persists its static inputs, and AQE would
add a job and a re-plan per query stage), so a warm wave is 12 Spark
jobs regardless of frontier size, and every job is shuffle-parallel at
the wave's one width. A wave commits only
what the next wave reads (pending, seen, shards) plus its one log part;
the settled frontier rows, fetch log, extracted spans and
per-(partition, host) metrics are views over the log, computed when a
caller reads them, so no wave pays a job or an aggregation for them. The
inputs that never change during a crawl — the per-host robots rules and
politeness budgets, and the site's fetch projection — are persisted once
per run, so no wave re-scans the caller's frames.
"""

from __future__ import annotations

import functools as _functools
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tbbid_scrapy_spark.fixtures.sitegen import PRIORITY_BY_KIND
from tbbid_scrapy_spark.functions.urls import with_url_norm
from tbbid_scrapy_spark.operators import frontier as fops
from tbbid_scrapy_spark.operators import sharded
from tbbid_scrapy_spark.operators.bloom import BloomSpec, bloom_test_insert
from tbbid_scrapy_spark.operators.cuckoo import CuckooSpec, cuckoo_test_insert
from tbbid_scrapy_spark.plans.seq import dense_index
from tbbid_scrapy_spark.schemas import SPAN
from tbbid_scrapy_spark.sources.sink import Catalog, DeltaTable, SnapshotTable

_DELTA_TABLES = ("seen", "log")

RETRY_LIMIT = 3
# Scrapy's RETRY_TIMES counts retries IN ADDITION to the first attempt,
# so RETRY_TIMES=3 allows 4 total fetches before the URL settles failed.
MAX_ATTEMPTS = RETRY_LIMIT + 1
RETRYABLE = [403, 500, 502, 503, 504, 522, 524, 408, 429]
# RETRYABLE, MAX_ATTEMPTS and fixtures.sitegen.PRIORITY_BY_KIND are
# FROZEN at first use: _retry_settle_default, _kind_expr and
# _priority_expr lru_cache Column trees that bake them in as literals,
# so rebinding or mutating them after the first wave of the process has
# no effect on later crawls (clear those caches if they ever become
# configurable). tests/test_crawl_equivalence.py pins that each cached
# tree still matches a fresh build.


def retry_settle_exprs(
    status=None, attempts=None
) -> tuple["F.Column", "F.Column"]:
    """Scrapy-parity settle expressions for a fetched batch: given a
    row's fetch ``status`` and prior ``attempts`` count, return the
    (state, attempts) Column pair the frontier state machine applies.

    Precedence mirrors Scrapy's RetryMiddleware + HttpErrorMiddleware
    composition (reference: tb_spider settings RETRY_TIMES=3 /
    RETRY_HTTP_CODES): 200 settles ``fetched``; 404 and every other
    NON-retryable status settle ``failed`` immediately (attempts
    unchanged); a RETRYABLE status increments attempts and settles
    ``failed`` once attempts+1 reaches MAX_ATTEMPTS (= first attempt +
    RETRY_TIMES), else re-enters the frontier as ``pending``.

    Exposed (rather than inlined in ``_run_wave_body``) so the driver's
    DuckDB oracle gate can exercise the exact production expressions —
    the oracle hardcodes the reference's retry policy, so a drift in
    RETRYABLE / MAX_ATTEMPTS here breaks the rows+schema+hash match.
    """
    if status is None and attempts is None:
        # the per-wave call site — the same two constant Columns every
        # wave, cached (Columns are immutable; construction is ~40 ms of
        # py4j round-trips otherwise re-paid per wave, guide §1.2 step 2)
        return _retry_settle_default()
    status = F.col("status") if status is None else status
    attempts = F.col("attempts") if attempts is None else attempts
    state = (
        F.when(status == 200, "fetched")
        .when(status == 404, "failed")
        # any other NON-retryable status (401/405/410/451… from a real
        # HttpTransport) fails permanently — without this branch such
        # rows stayed 'pending' with attempts never incremented and
        # were refetched every wave forever (the crawl never drained)
        .when(~status.isin(RETRYABLE), "failed")
        .when(attempts + 1 >= F.lit(MAX_ATTEMPTS), "failed")
        .otherwise("pending")
    )
    attempts_after = F.when(
        status.isin(RETRYABLE), attempts + 1
    ).otherwise(attempts)
    return state, attempts_after


@_functools.lru_cache(maxsize=1)
def _retry_settle_default() -> tuple["F.Column", "F.Column"]:
    return retry_settle_exprs(F.col("status"), F.col("attempts"))

# The wave log's columns after the frontier's own: the wave that fetched
# the row, its global fetch position, the fetch status, the parsed spans
# and the Spark partition the row was fetched in.
LOG_FIELDS = [
    T.StructField("fetch_wave", T.IntegerType(), False),
    T.StructField("fetch_pos", T.LongType(), False),
    T.StructField("status", T.IntegerType(), False),
    T.StructField("spans", T.ArrayType(SPAN), True),
    T.StructField("partition_id", T.IntegerType(), False),
]

# the schema of CrawlState.extracted
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)


# Adaptive wave parallelism: a wave's one width (dense index, link
# spread and shuffle width alike) is ceil(pending rows /
# MIN_ROWS_PER_TASK), capped at the cluster's defaultParallelism. The
# wave runs with AQE off, so this is the only coalescing any of its
# shuffles get. At 10^10-URL waves this saturates to full parallelism; at
# trickle waves (seed ramp-up, politeness-starved hosts) it stops
# paying ~1 s/task of scheduling+shuffle-file overhead for 100-row
# stages (measured: 32-task stages with 74 KB of shuffle spent 20 s
# in shuffle-write bookkeeping alone). Value from an interleaved A/B at
# a 44k-page site, local[32]: 2048 → 865-918 URLs/s vs always full
# width → 372-638 vs 8192 → 548 (starved).
MIN_ROWS_PER_TASK = 2048

# Children's enqueue key, computed per row with zero sort/collect:
#   seq = (wave+1) << _WAVE_SHIFT | parent_pos << _POS_SHIFT | (eff_pos + _OFF_BIAS)
# Within one discovery wave this orders rows exactly as the simulator's
# dense counter does, and scheduling compares seq only after the wave
# column, so a wave may also take dense seqs (next_seq …) instead. Each
# field fits its bit slot only below its bound; a wave past any bound
# takes the distributed dense index (plans/seq.py). A silent overflow
# would corrupt enqueue order and politeness with no error. The bounds
# are read at call time.
_WAVE_SHIFT, _POS_SHIFT, _OFF_BIAS = 47, 17, 1 << 16
PACKED_MAX_WAVE = 32766  # wave+1 ≤ this keeps the key below 2^62
PACKED_MAX_BATCH = 1 << 30  # fetches/wave (parent_pos) < this
PACKED_MAX_OFFSET = 1 << 16  # max |eff_pos| < this (spans per page)

# seen_mode → the CrawlConfig field holding its approximate-structure
# spec (None: the exact seen table alone)
_SPEC_FIELD = {
    "exact": None,
    "bloom": "bloom_spec",
    "hybrid": "bloom_spec",
    "cuckoo": "cuckoo_spec",
}


@dataclass
class CrawlConfig:
    max_waves: int = 100
    default_budget: int = 4  # CONCURRENT_REQUESTS_PER_DOMAIN, settings.py:29
    # exact | bloom | hybrid | cuckoo — cuckoo is the DELETABLE
    # approximate seen-set (same FP-only guarantees as bloom, plus
    # cuckoo_delete for retry re-admission / un-seeing)
    seen_mode: str = "exact"
    bloom_spec: BloomSpec | None = None
    cuckoo_spec: CuckooSpec | None = None
    checkpoint_dir: str | None = None


@_functools.lru_cache(maxsize=None)
def _kind_expr(col_name: str):
    """URL → page kind over the named column, mirroring
    fixtures.simulator.kind_of_url. lru_cached by column name: the
    constant tree cost ~50 ms of py4j round-trips per construction,
    previously re-paid every wave."""
    url_norm = F.col(col_name)
    path = F.parse_url(url_norm, F.lit("PATH"))
    expr = F.lit("other")
    for kind, marker in [
        ("corp_search", "/corp/search"),
        ("corp_detail", "/corp/detail"),
        ("emp_list", "/corp/emps"),
        ("person_perf_list", "/corp/listpersonperformance"),
        ("perf_detail", "/corp/perfdetail"),
        ("security_list", "/corp/security"),
        ("candidates", "/candidates/"),
        ("bids", "/bids/"),
        ("notice", "/notice/"),
        ("stage", "/project/"),
        ("listing", "/listing"),
    ]:
        expr = F.when(path.startswith(marker), F.lit(kind)).otherwise(expr)
    return expr


@_functools.lru_cache(maxsize=None)
def _priority_expr(col_name: str):
    kind_col = F.col(col_name)
    expr = F.lit(0)
    for kind, pri in PRIORITY_BY_KIND.items():
        expr = F.when(kind_col == kind, F.lit(pri)).otherwise(expr)
    return expr


def _frontier_rows(df: DataFrame, url: Column | str, parent_id: Column,
                   depth: Column, wave: int) -> DataFrame:
    """The 13 frontier columns of newly enqueued URLs (seeds at wave 0,
    children at wave w+1): page kind and priority from the cached policy
    trees, state 'pending', no attempts and no status yet. ``df`` carries
    url_norm, url_hash, host and seq."""
    return df.withColumn("page_kind", _kind_expr("url_norm")).select(
        url,
        "url_norm",
        "url_hash",
        "host",
        "page_kind",
        parent_id.alias("parent_id"),
        depth.alias("depth"),
        _priority_expr("page_kind").alias("priority"),
        F.lit(wave).alias("wave"),
        F.lit("pending").alias("state"),
        F.lit(0).alias("attempts"),
        F.lit(None).cast("int").alias("last_status"),
        "seq",
    )


def _union(parts: list[DataFrame]) -> DataFrame:
    assert parts
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _fan_out(jobs: dict[str, Callable[[], object]]) -> dict[str, object]:
    """Run a commit's independent jobs concurrently, one thread each, and
    return their results by name. Spark schedules concurrent jobs fine
    (local-mode cores are shared); serial submission would put one job
    round-trip per table of pure scheduling latency on every wave's
    critical path."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futures = {k: ex.submit(fn) for k, fn in jobs.items()}
        return {k: f.result() for k, f in futures.items()}


def _seen_spec(cfg: CrawlConfig) -> BloomSpec | CuckooSpec | None:
    """The approximate seen structure's spec, decided once per engine:
    None for exact, the bloom spec for bloom and hybrid, the cuckoo spec
    for cuckoo. A bad config raises here, before any wave runs, not
    mid-wave on a missing spec. Reads only seen_mode and the specs —
    never ``max_waves``, whose reads mark wave boundaries for
    instrumented configs."""
    if cfg.seen_mode not in _SPEC_FIELD:
        raise ValueError(
            f"unknown seen_mode {cfg.seen_mode!r}; expected one of {list(_SPEC_FIELD)}"
        )
    name = _SPEC_FIELD[cfg.seen_mode]
    spec = None if name is None else getattr(cfg, name)
    if name is not None and spec is None:
        raise ValueError(f"seen_mode={cfg.seen_mode!r} needs CrawlConfig.{name}")
    return spec


@dataclass
class CrawlState:
    """Frontier state partitioned for O(wave) commits at a 10^10-URL scale.

    - ``pending`` : the LIVE frontier (state == 'pending' only) — the
      single table a wave rewrites. Settled rows never ride through
      another wave's join or commit.
    - ``parts``   : per APPEND-ONLY table in ``_DELTA_TABLES``, one delta
      per wave — ``seen`` (url_hash, url_norm of the URLs the wave
      discovered; the exact anti-join reads it every wave, and the r1
      design committed the full union every wave — O(waves ×
      total_state), the VERDICT's top scale-killer) and ``log`` (the
      wave's fetched batch after the settle expressions: every frontier
      column plus ``LOG_FIELDS`` — wave w commits |batch| rows, not
      |history|).
    - ``committed_parts``: per delta table, the part names already in the
      checkpoint — a commit writes only parts beyond this list.

    ``frontier``'s settled rows, ``fetch_log``, ``extracted`` and
    ``metrics_table`` are views over the log, built when read; no wave
    reads them.
    """

    pending: DataFrame
    parts: dict[str, list[DataFrame]]
    shards: DataFrame | None
    metrics: list[dict] = field(default_factory=list)
    wave: int = 0
    next_seq: int = 0  # driver-tracked global enqueue counter
    committed_parts: dict[str, list[str]] = field(default_factory=dict)
    # driver-tracked size ESTIMATE of `pending` (exact batch/new counts,
    # retries ignored) — sizes the next wave's partitioning without a
    # count job
    pending_est: int = 1

    @property
    def log(self) -> DataFrame:
        return _union(self.parts["log"])

    @property
    def frontier(self) -> DataFrame:
        """Full frontier view (live ∪ settled) — read-side compatibility;
        the engine itself never joins against this union."""
        settled = self.log.filter(F.col("state") != "pending")
        return self.pending.unionByName(settled.select(*self.pending.columns))

    @property
    def seen(self) -> DataFrame:
        return _union(self.parts["seen"])

    @property
    def fetch_log(self) -> DataFrame:
        return self.log.select(
            F.col("fetch_wave").alias("wave"), "fetch_pos", "url_norm", "status"
        )

    @property
    def extracted(self) -> DataFrame:
        return (
            self.log.filter(F.col("status") == 200)
            .select(
                F.col("url_norm").alias("doc_id"),
                F.explode("spans").alias("s"),
                F.col("fetch_wave").alias("wave"),
            )
            .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset", "wave")
        )

    @property
    def metrics_table(self) -> DataFrame:
        """Per-(wave, partition, host) fetch/parse metrics — the
        north-star's per-partition lineage companion (row-level lineage
        itself is the frontier's parent_id chain)."""
        status = F.col("status")
        return self.log.groupBy(
            F.col("fetch_wave").alias("wave"), "partition_id", "host"
        ).agg(
            F.count("*").alias("urls_scheduled"),
            F.sum((status == 200).cast("long")).alias("fetched_ok"),
            # permanent failures = 404 plus any non-retryable error
            # status (the state machine fails those immediately);
            # retried = the full RETRYABLE set, not literal 503 only —
            # real HttpTransport runs see 500/502/429/… too
            F.sum(((status != 200) & ~status.isin(RETRYABLE)).cast("long")).alias(
                "failed_404"
            ),
            F.sum(status.isin(RETRYABLE).cast("long")).alias("retried_5xx"),
            F.sum(F.when(status == 200, F.size("spans")).otherwise(0)).alias(
                "spans_extracted"
            ),
        )


class CrawlEngine:
    """Drives waves over a synthetic site table (schemas.DOCUMENTS +
    fail_first int). With ``transport=`` (operators/fetch.py — e.g.
    HttpTransport, or SyntheticTransport over the fixture site) the
    fetch step is the batch-transport mapInPandas operator instead of
    the sandbox equi-join; both share one row contract."""

    def __init__(
        self,
        spark: SparkSession,
        site: DataFrame,
        seeds: list[str],
        politeness: DataFrame,
        robots: DataFrame,
        config: CrawlConfig | None = None,
        transport=None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.seeds = seeds
        self.transport = transport
        # the crawl's static inputs, reduced once: one robots-rules row
        # and one budget row per host, and the four site columns the
        # sandbox fetch joins. run() persists them for its duration.
        self._rules = fops.robots_rules(robots)
        self._budgets = fops.host_budgets(politeness)
        self._site_cols = None if transport is not None else site.select(
            F.col("doc_id"),
            F.col("page_kind").alias("_doc_kind"),
            F.col("spans"),
            F.col("fail_first"),
        )
        self.seen_spec = _seen_spec(self.config)
        self._snapshots: dict[str, SnapshotTable] = {}
        self._deltas: dict[str, DeltaTable] = {}
        self._catalog: Catalog | None = None
        if self.config.checkpoint_dir:
            ck = self.config.checkpoint_dir
            self._catalog = Catalog(ck)
            for name in ("pending", "shards"):
                self._snapshots[name] = SnapshotTable(spark, f"{ck}/{name}")
            for name in _DELTA_TABLES:
                self._deltas[name] = DeltaTable(spark, f"{ck}/{name}")

    def _sized_parts(self, rows: int) -> int:
        """Partition count for ~``rows`` rows: ceil(rows/MIN_ROWS_PER_TASK)
        clamped to [1, defaultParallelism]."""
        width = self.spark.sparkContext.defaultParallelism
        return max(1, min(width, 1 + (max(rows, 1) - 1) // MIN_ROWS_PER_TASK))

    # -- state bootstrap ---------------------------------------------------

    def _initial_state(self) -> CrawlState:
        spark = self.spark
        order = spark.createDataFrame(
            [(u, i) for i, u in enumerate(self.seeds)], "url string, _ord int"
        )
        seeds_norm = with_url_norm(order)
        # seeds go through the SAME enqueue-time checks as children
        # (simulator enqueue: robots then seen/url_hash dedup, first
        # occurrence wins; a disallowed seed never enters frontier or seen)
        seeds_norm = fops.apply_robots_joined(seeds_norm, self._rules)
        payload = [c for c in seeds_norm.columns if c not in ("url_hash", "_ord")]
        seeds_norm = (
            seeds_norm.groupBy("url_hash")
            .agg(F.min(F.struct(F.col("_ord"), *[F.col(c) for c in payload])).alias("_f"))
            .select("url_hash", "_f.*")
        )
        f0, n_seeds, _h0 = dense_index(
            seeds_norm, [F.col("_ord")], "seq", 0, self._sized_parts(len(self.seeds))
        )
        f0 = _frontier_rows(f0, "url", F.lit(None).cast("string"), F.lit(0), 0)
        seen0 = f0.select("url_hash", "url_norm")
        shards0 = None if self.seen_spec is None else self._rebuild_shards(seen0)
        log0 = spark.createDataFrame([], T.StructType(f0.schema.fields + LOG_FIELDS))
        return CrawlState(
            pending=f0,
            parts={"seen": [seen0], "log": [log0]},
            shards=shards0,
            metrics=[],
            wave=0,
            next_seq=n_seeds,
            pending_est=n_seeds,
        )

    # -- checkpoint / resume ------------------------------------------------

    def _seen_format(self) -> str | None:
        """Format tag of the approximate seen structure under the current
        config (None for exact mode). Stamped into every manifest; at
        resume a mismatch — probe-math version bump OR spec-geometry
        change OR a pre-stamp manifest — means the persisted bitsets would
        return silent false negatives, so the shards are rebuilt from the
        seen table instead of read back."""
        return None if self.seen_spec is None else self.seen_spec.format_tag()

    def _rebuild_shards(self, seen: DataFrame) -> DataFrame:
        """Build the approximate seen structure from an exact seen table
        (the format-independent source of truth): every url_hash is
        inserted into fresh shards under the CURRENT format by the spec's
        test+insert (from empty shards nothing tests seen). Builds the
        seed state's shards, and rebuilds at resume on a format mismatch
        — O(|seen|) once; the next commit persists the rebuilt shards
        under the new tag."""
        spec = self.seen_spec
        return spec.insert(seen.select("url_hash"), spec.empty(self.spark))

    def _commit(self, st: CrawlState) -> CrawlState:
        """Materialize the wave (truncates lineage); with a checkpoint dir
        configured, write the wave's DELTAS plus the live-pending snapshot
        and flip ONE manifest atomically.

        Commit I/O is O(wave): each append-only table writes only its new
        part(s); the only rewritten tables are ``pending`` (the live set a
        wave must touch anyway) and the fixed-size bloom ``shards``. A
        crash anywhere before the manifest flip leaves the previous
        manifest — and therefore a fully consistent multi-table snapshot —
        as the resume point (no per-table pointer skew)."""
        if self._catalog:
            # every write below targets its own immutable directory, so the
            # whole commit fans out; only the manifest flip is ordered —
            # strictly after all writes land.
            jobs: dict[str, Callable[[], object]] = {
                "pending": lambda: self._snapshots["pending"].write_version(st.pending)
            }
            if st.shards is not None:
                jobs["shards"] = lambda: self._snapshots["shards"].write_version(
                    st.shards
                )
            # once anything is committed, parts[0] is the read-back of all
            # committed parts; everything after it is new deltas. On the
            # very first commit every part is new.
            new_by_name = {
                name: st.parts[name][1:] if st.committed_parts.get(name)
                else st.parts[name]
                for name in _DELTA_TABLES
            }
            for name, new in new_by_name.items():
                for i, p in enumerate(new):
                    jobs[f"{name}/{i}"] = (
                        lambda d=self._deltas[name], p=p, i=i: d.write_part(
                            p, f"{st.wave:06d}-{i}"
                        )
                    )
            results = _fan_out(jobs)
            snaps = {k: results[k] for k in ("pending", "shards") if k in results}
            deltas = {
                name: list(st.committed_parts.get(name, []))
                + [results[f"{name}/{i}"] for i in range(len(new))]
                for name, new in new_by_name.items()
            }
            self._catalog.commit(
                {
                    "wave": st.wave,
                    "next_seq": st.next_seq,
                    "pending_est": st.pending_est,
                    "seen_format": self._seen_format(),
                    "snapshots": snaps,
                    "deltas": deltas,
                }
            )
            return self._load(st.metrics)
        # no checkpoint dir: localCheckpoint to truncate lineage. Coalesce
        # first — per-wave unions would otherwise accumulate partitions
        # linearly in wave count. Only the NEWEST delta of each append-only
        # table needs materializing; older parts were checkpointed already.
        # The checkpoints (pending, seen, log, shards) are independent scans
        # of already-persisted wave blocks, so they fan out like the parquet
        # writes above.
        n = self._sized_parts(st.pending_est)

        def _ckpt_last(parts: list[DataFrame]) -> list[DataFrame]:
            return [*parts[:-1], parts[-1].coalesce(n).localCheckpoint()]

        jobs = {"pending": lambda: st.pending.coalesce(n).localCheckpoint()}
        for name in _DELTA_TABLES:
            jobs[name] = lambda name=name: _ckpt_last(st.parts[name])
        if st.shards is not None:
            jobs["shards"] = lambda: st.shards.localCheckpoint()
        res = _fan_out(jobs)
        return replace(
            st,
            pending=res["pending"],
            parts={name: res[name] for name in _DELTA_TABLES},
            shards=res.get("shards"),
        )

    def _load(self, metrics: list[dict] | None = None) -> CrawlState:
        """State from the current manifest: every delta table becomes ONE
        multi-path scan over its committed parts."""
        manifest = self._catalog.read()
        if manifest is None:
            raise ValueError(
                f"no committed manifest in {self._catalog.root} to resume; "
                "run with resume=False to start a crawl there"
            )
        snaps, deltas = manifest["snapshots"], manifest["deltas"]
        if "log" not in deltas:
            raise ValueError(
                f"{self._catalog.root} holds a checkpoint in the old five-table "
                f"layout (deltas {sorted(deltas)}), which this engine cannot "
                "resume; start the crawl in a fresh checkpoint_dir"
            )
        parts = {
            name: [self._deltas[name].read(deltas[name])] for name in _DELTA_TABLES
        }
        want = self._seen_format()
        if want is None:
            shards = None
        elif manifest.get("seen_format") == want and "shards" in snaps:
            shards = self._snapshots["shards"].read_version(snaps["shards"])
        else:
            # probe-math version bump, spec-geometry change, seen_mode
            # change, or a manifest written before tags existed: the
            # persisted bitsets would silently drop membership (seen URLs
            # re-enqueued/refetched) — rebuild from the exact seen table.
            import sys

            print(
                "[crawl] seen-structure format mismatch at resume "
                f"(manifest={manifest.get('seen_format')!r}, current={want!r})"
                " — rebuilding shards from the seen table",
                file=sys.stderr,
            )
            # eager localCheckpoint: the O(|seen|) reconstruction runs
            # ONCE here — a lazy rebuilt frame would re-scan the seen
            # table on every action that reads the shards (same pattern
            # as the wave loop's shard checkpointing)
            shards = self._rebuild_shards(parts["seen"][0]).localCheckpoint()
        return CrawlState(
            pending=self._snapshots["pending"].read_version(snaps["pending"]),
            parts=parts,
            shards=shards,
            metrics=metrics or [],
            wave=manifest["wave"],
            next_seq=manifest["next_seq"],
            committed_parts={k: list(v) for k, v in deltas.items()},
            pending_est=manifest["pending_est"],
        )

    def resume(self) -> CrawlState:
        """Rebuild state from the latest committed manifest."""
        if self._catalog is None:
            raise ValueError("resume requires CrawlConfig.checkpoint_dir")
        return self._load()

    # -- one wave ------------------------------------------------------------

    def _run_wave(self, st: CrawlState) -> tuple[CrawlState, int]:
        cfg = self.config
        w = st.wave
        t0 = time.monotonic()

        # adaptive wave parallelism (see MIN_ROWS_PER_TASK): ONE width per
        # wave, sized to the pending estimate, for every shuffle and
        # repartition. AQE is off inside run(), so nothing coalesces a
        # shuffle read, and each partition of the Arrow canonicalizer's
        # branch is one Python task (~0.2 s of CPU) whatever its rows
        wave_parts = self._sized_parts(st.pending_est)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(wave_parts))

        # st.pending IS the live frontier — no state filter, no settled rows
        # in any wave join
        pending = st.pending
        ranked = fops.politeness_rank(pending, self._budgets, cfg.default_budget)
        # global fetch order; distributed dense index (no single-task window)
        batch, n_batch, h_batch = dense_index(
            ranked,
            [F.col("priority").desc(), F.col("wave"), F.col("seq")],
            "fetch_pos",
            0,
            wave_parts,
        )
        if n_batch == 0:
            if h_batch is not None:
                h_batch.unpersist()
            return st, 0
        # Every wave-scratch persist is registered in `scratch` and
        # released in the finally — an exception mid-wave (e.g. a failed
        # job a caller catches before retrying on the SAME session) must
        # not leave cached blocks pinned for the session's lifetime.
        scratch: list = [] if h_batch is None else [h_batch]
        try:
            return self._run_wave_body(
                st, w, t0, cfg, batch, n_batch, wave_parts, scratch
            )
        finally:
            for h in scratch:
                try:
                    h.unpersist()
                except Exception:
                    pass

    def _run_wave_body(self, st, w, t0, cfg, batch, n_batch, wave_parts,
                       scratch):
        # NOTE: no extra repartition here — dense_index range-partitioned
        # the batch by global fetch order, which interleaves hosts evenly,
        # so the hot host is already spread across all tasks for the
        # fetch/parse stage (a host-affine stage, like connection-pooled
        # HTTP fetching, would repartition on (host, url_hash mod salt)).

        if self.transport is not None:
            # batch-transport fetch (operators/fetch.py): one transport
            # attempt per row in Arrow batches, JVM-side body parse —
            # the same (status, _doc_kind, spans) contract as the join
            from tbbid_scrapy_spark.operators.fetch import (
                fetch_map_in_pandas,
                parse_fetched_body,
            )

            fetched = parse_fetched_body(
                fetch_map_in_pandas(batch, self.transport)
            ).persist()
            scratch.append(fetched)
        else:
            # sandbox fetch = equi-join on canonical URL (site side:
            # doc_id IS canonical)
            site = self._site_cols
            fetched = (
                batch.join(site, batch.url_norm == site.doc_id, "left")
                .withColumn(
                    "status",
                    F.when(F.col("doc_id").isNull(), F.lit(404))
                    .when(F.col("attempts") < F.col("fail_first"), F.lit(503))
                    .otherwise(F.lit(200)),
                )
                .persist()
            )
            scratch.append(fetched)

        ok = fetched.filter(F.col("status") == 200)

        # ---- children: links, listing pages reversed ----
        links = ok.select(
            F.col("url_norm").alias("parent"),
            F.col("fetch_pos").alias("parent_pos"),
            F.col("depth").alias("parent_depth"),
            F.col("_doc_kind"),
            F.explode(F.filter("spans", lambda s: s["kind"] == F.lit("link"))).alias("s"),
        ).select(
            "parent",
            "parent_pos",
            "parent_depth",
            "_doc_kind",
            F.col("s.media_ref").alias("child_url"),
            F.col("s.text").alias("_anchor"),
            F.when(F.col("_doc_kind") == "listing", -F.col("s.offset"))
            .otherwise(F.col("s.offset"))
            .alias("eff_pos"),
        ).filter(
            # listing anti-filter happens BEFORE the detail request is
            # yielded in the reference (bid_info.py:93-94): filtered
            # projects are never crawled
            ~(
                (F.col("_doc_kind") == "listing")
                & F.col("_anchor").isNotNull()
                & (F.col("_anchor").contains("监理") | F.col("_anchor").contains("造价咨询"))
            )
        ).drop("_doc_kind", "_anchor")
        # a hub page can fan out 10^4+ links from ONE row; explode keeps
        # them in the parent's partition, which would serialize the
        # canonicalize/dedup pipeline behind one task — spread them first
        links = links.repartition(wave_parts)
        # F16 prefix rewrite before canonicalization: person-detail links
        # are requested as performance lists (company_emp_info.py:214-216)
        links = links.withColumn(
            "child_url",
            F.regexp_replace(
                "child_url", "/corp/persondetail", "/corp/listpersonperformance"
            ),
        )
        children = with_url_norm(
            links, "child_url", base_col="parent"
        ).filter(F.col("url_norm").isNotNull())
        children = fops.apply_robots_joined(children, self._rules)
        # in-batch first-discovery wins (simulator enqueues in fetch
        # order). min(struct(order..., payload...)) per url_hash instead of
        # a row_number window: hash aggregation gets map-side partial
        # combine and scales linearly, where a window must co-locate and
        # sort every group (measured ANTI-scaling with cores at 4M rows).
        payload = [c for c in children.columns
                   if c not in ("url_hash", "parent_pos", "eff_pos")]
        first = F.min(
            F.struct(F.col("parent_pos"), F.col("eff_pos"),
                     *[F.col(c) for c in payload])
        ).alias("_first")
        children = (
            children.groupBy("url_hash").agg(first)
            .select("url_hash", "_first.*")
        )
        # seen-set dedup: the exact anti-join, or ONE fused test+insert
        # pass (bloom / hybrid / cuckoo) that yields both the verdicts
        # against the pre-wave shards and the new shard table with the
        # not-seen keys inserted. Hybrid exact-confirms the bloom-positive
        # sliver (at scale the prefilter eliminates ~all dupes so the
        # anti-join touches a sliver). Only the 8-byte url_hash goes
        # through the Arrow cogroup — wide candidate payload must never
        # round-trip through Python (measured ~8x slowdown when it does);
        # verdicts join back on url_hash, whose hash-partitioning the
        # preceding dedup already established. The test+insert is looked
        # up by module attribute at call time, so a wrapper installed on
        # this module sees every call.
        if self.seen_spec is None:
            children = children.join(
                st.seen.select("url_hash"), "url_hash", "left_anti"
            )
            new_shards = None
        else:
            test_insert = (
                cuckoo_test_insert if cfg.seen_mode == "cuckoo" else bloom_test_insert
            )
            fused = test_insert(
                children.select("url_hash"), st.shards, self.seen_spec
            ).persist()
            scratch.append(fused)
            verdicts = sharded.verdicts(fused)
            keep_keys = verdicts.filter(~F.col("maybe_seen")).select("url_hash")
            if cfg.seen_mode == "hybrid":
                keep_keys = keep_keys.unionByName(
                    verdicts.filter(F.col("maybe_seen"))
                    .select("url_hash")
                    .join(st.seen.select("url_hash"), "url_hash", "left_anti")
                )
            children = children.join(keep_keys, "url_hash", "left_semi")
            new_shards = sharded.shard_rows(fused)

        # enqueue keys over the deduped children; the frame is persisted so
        # frontier/seen below reuse one materialization. Packed keys
        # while their bounds hold (see PACKED_MAX_*): the wave and batch
        # bounds are known here, the span-offset bound rides the count job
        # the packed path runs anyway. Past any bound, the dense index.
        n_new = None
        if w + 1 <= PACKED_MAX_WAVE and n_batch < PACKED_MAX_BATCH:
            children = children.withColumn(
                "seq",
                (F.lit(w + 1).cast("long") * F.lit(1 << _WAVE_SHIFT).cast("long"))
                + (F.col("parent_pos").cast("long") * F.lit(1 << _POS_SHIFT).cast("long"))
                + (F.col("eff_pos").cast("long") + F.lit(_OFF_BIAS).cast("long")),
            ).persist()
            scratch.append(children)
            stats = children.agg(
                F.count("*").alias("n"), F.max(F.abs("eff_pos")).alias("max_off")
            ).collect()[0]
            if stats["max_off"] is None or stats["max_off"] < PACKED_MAX_OFFSET:
                n_new = stats["n"]
            else:
                children = children.drop("seq")
        if n_new is None:
            children, n_new, h_children = dense_index(
                children,
                [F.col("parent_pos"), F.col("eff_pos")],
                "seq",
                st.next_seq,
                wave_parts,
            )
            if h_children is not None:
                scratch.append(h_children)
        f_add = _frontier_rows(
            children, F.col("child_url").alias("url"), F.col("parent"),
            F.col("parent_depth") + 1, w + 1,
        )

        # ---- frontier state transitions: ONLY the fetched batch moves ----
        # The batch rows (already carrying every frontier column) settle in
        # ONE projection, the wave's append-only log part; its retry rows
        # re-enter the live set; untouched pending rows pass through one
        # anti-join on the (small) batch keys. No join ever sees settled
        # history — this is what makes wave cost O(live + batch), not
        # O(everything ever). partition_id is read in this projection over
        # the persisted batch, so metrics_table sees the fetch partitions.
        front_cols = st.pending.columns
        state_expr, attempts_expr = retry_settle_exprs()
        settled = {"state": state_expr, "attempts": attempts_expr,
                   "last_status": F.col("status")}
        log_add = fetched.select(
            *[settled.get(c, F.col(c)).alias(c) for c in front_cols],
            F.lit(w).alias("fetch_wave"),
            "fetch_pos",
            "status",
            "spans",
            F.spark_partition_id().alias("partition_id"),
        )
        retries = log_add.filter(F.col("state") == "pending").select(*front_cols)
        new_pending = (
            st.pending.join(batch.select("url_hash"), "url_hash", "left_anti")
            .select(*front_cols)
            .unionByName(retries)
            .unionByName(f_add.select(*front_cols))
        )
        adds = {"seen": children.select("url_hash", "url_norm"), "log": log_add}
        committed = self._commit(
            replace(
                st,
                pending=new_pending,
                parts={name: st.parts[name] + [adds[name]] for name in _DELTA_TABLES},
                shards=new_shards,
                wave=w + 1,
                next_seq=st.next_seq + n_new,
                pending_est=max(1, st.pending_est - n_batch + n_new),
            )
        )
        committed.metrics.append(
            {
                "wave": w,
                "urls_fetched": n_batch,
                "urls_new": n_new,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
        )
        # wave-scratch blocks (fetched / batch / children / fused frames,
        # all registered in `scratch`) are released by _run_wave's
        # finally — on success AND on any mid-wave exception. Only the
        # superseded old-state blocks are dropped here, success-path
        # only: state tables live in the fresh localCheckpoint/snapshot,
        # so nothing downstream needs them
        for old in (st.pending, *st.parts["seen"], st.shards):
            if old is not None:
                try:
                    old.unpersist()
                except Exception:
                    pass
        return committed, n_batch

    # -- full run --------------------------------------------------------------

    def run(self, resume: bool = False) -> CrawlState:
        # waves are planned statically: AQE off (the engine sizes every
        # width and salts the hot host itself, and AQE would add a job and
        # a re-plan per query stage) and the shuffle width retuned per
        # wave. Both are restored so other queries on the session keep
        # the caller's values.
        prev_conf = {k: self.spark.conf.get(k) for k in
                     ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
        # A fresh run re-uses deterministic wave-numbered delta part names
        # (sink.DeltaTable.write_part), so starting over inside a
        # checkpoint_dir that already holds a COMMITTED manifest would
        # overwrite part directories the live manifest still references —
        # a crash mid-first-commit would then leave that manifest pointing
        # at clobbered parquet. Refuse instead of corrupting.
        if not resume and self._catalog and self._catalog.read() is not None:
            raise ValueError(
                f"checkpoint dir already holds a committed manifest "
                f"({self._catalog.root}); pass resume=True to continue it, "
                "or point checkpoint_dir at a fresh directory"
            )
        # Static inputs are read ONCE per run: persisted and materialized
        # here, so every wave's politeness, robots and fetch joins read
        # cached blocks. Caller frames built with createDataFrame(list)
        # are Python-RDD scans — each re-read cost one Python task (~0.2 s
        # of CPU whatever its row count) per partition per wave.
        statics = [t for t in (self._rules, self._budgets, self._site_cols)
                   if t is not None]
        try:
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            _fan_out({str(i): t.persist().count for i, t in enumerate(statics)})
            st = self.resume() if resume else self._initial_state()
            if not resume:
                st = self._commit(st)
            while st.wave < self.config.max_waves:
                st, n = self._run_wave(st)
                if n == 0:
                    break
            return st
        finally:
            for k, v in prev_conf.items():
                self.spark.conf.set(k, v)
            for t in statics:
                t.unpersist()
