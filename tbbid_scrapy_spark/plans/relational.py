"""Relational target-table maintenance: set-oriented MERGE upserts with
the reference's cross-table side effects re-derived relationally
(SURVEY.md §2.10).

The reference's row-at-a-time pipeline mutates state as items trickle in
(/root/reference/xizang/pipelines/bidSaver.py): a project advances
``stage`` 1→2→3 as sections/ranks arrive, sections get winning_* fields
and a status from the rank state machine (:367-375), children arriving
before their parent wait in a ``pending_items`` queue (:163-173). Batch
semantics make all of that order-independent:

- stage   = 1 + (project has sections) + (project has ranks)   — a join-
            derived column, identical final state for any arrival order
- status  = rank-based mapping (rank 1 → 'completed'; sections without a
            rank → 'pending'), W3
- pending = children whose project is not yet known roll forward to the
            next wave via left_anti (J3/C6) instead of an in-memory queue
- sections are auto-created from bid/rank/control-price evidence (the
  reference auto-creates a missing parent section, bidSaver.py:235-298)

The company/employee/performance/winner sinks (CompanyEmployee.py:28-188,
winner_bid.py:20-67), with the conditional employee key (cert_code,
else (name, corp_code)) and the bid_count increment (:121-122), are
MERGE_SPECS entries too: all 8 tables go through the one ``upsert``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tbbid_scrapy_spark.sources.sink import merge_upsert, to_merge_sql

# The ONE declaration of each of the 8 sink tables: the typed columns
# the engine writes, the natural keys, the matched-update rules and the
# duplicate-key policy. The Iceberg MERGE INTO surface (merge_sql_for),
# the empty tables (empty_tables) and the parquet emulation (upsert) all
# read it (reference upsert semantics bidSaver.py:61-395,
# CompanyEmployee.py:28-188, winner_bid.py:20-67, models/models.py:51-90).
# Matched-update rules are SQL over aliases t (target) / s (source);
# unlisted columns take the source value. ``keep_existing`` makes every
# data column coalesce(s.c, t.c): NULL on re-sight keeps the old value,
# like the reference only writing parsed fields.
_KEEP = "coalesce(s.{c}, t.{c})"


def _table(ddl: str, keys: list[str], on_matched_sql: dict[str, str] | None = None,
           *, keep_existing: bool = False, on_duplicate: str = "dedup") -> dict:
    """One MERGE_SPECS entry. Column types are scalars or array<scalar>,
    so every comma in ``ddl`` separates two columns."""
    cols = [c.split()[0] for c in ddl.split(",")]
    rules = {c: _KEEP.format(c=c) for c in cols if c not in keys} if keep_existing else {}
    return {
        "ddl": ddl,
        "cols": cols,
        "keys": keys,
        "on_matched_sql": {**rules, **(on_matched_sql or {})},
        "on_duplicate": on_duplicate,
    }


MERGE_SPECS: dict[str, dict] = {
    "project": _table(
        "project_id string, title string, url string, notice_content string,"
        " construction_funds string, project_duration string, company_req string,"
        " person_req string, session_size int, stage int",
        ["project_id"], keep_existing=True,
    ),
    "bid_section": _table(
        "project_id string, section_id string, bid_size int, lot_ctl_amt double,"
        " status string, winning_bidder string, winning_amount double",
        ["project_id", "section_id"],
        # status follows the MERGED winning evidence: the reference sets
        # status ONLY on the rank path (bidSaver.py:367-375) — a
        # bid/section item arriving after rank 1 must not downgrade
        # 'completed' back to the source's wave-local 'pending'.
        {"status": (
            "CASE WHEN coalesce(s.winning_bidder, t.winning_bidder)"
            " IS NOT NULL THEN 'completed'"
            " ELSE coalesce(s.status, t.status) END"
        )},
        keep_existing=True,
    ),
    "bid": _table(
        "project_id string, section_id string, bidder_name string, bid_amount double",
        ["project_id", "section_id", "bidder_name"],
    ),
    "bid_rank": _table(
        "project_id string, section_id string, bidder_name string, rank int,"
        " manager_name string, win_amt double",
        ["project_id", "section_id", "rank"],
    ),
    "company": _table(
        "corp_code string, name string, corp string, corp_asset string,"
        " reg_address string, valid_date string, qualifications array<string>,"
        " others string, bid_count int",
        ["corp_code"],
        {
            # bid_count accumulates per sighting (CompanyEmployee.py:121-122,
            # set-wise: the incoming side carries the batch's count)
            "bid_count": "coalesce(t.bid_count, 0) + coalesce(s.bid_count, 0)",
            # the reference keeps the stored value unless the new one is
            # truthy (`if adapter.get('others')`, CompanyEmployee.py:122-123)
            # — every other company field is overwritten unconditionally.
            "others": (
                "CASE WHEN s.others IS NOT NULL AND s.others != ''"
                " THEN s.others ELSE t.others END"
            ),
        },
        # bid_count is ADDITIVE — a silent last-wins dedup of a
        # duplicate-corp batch would drop an increment. The corp chain
        # pre-aggregates to one row per corp_code, so a duplicate here is
        # a caller bug that must fail loud.
        on_duplicate="error",
    ),
    "employee": _table(
        # merge_key = cert_code, else name|corp_code (employee_merge_key)
        "merge_key string, corp_code string, name string, cert_code string,"
        " role string, valid_date string, major array<string>,"
        " birth_date_raw string, id_number string, person_id string",
        ["merge_key"],
    ),
    "person_performance": _table(
        "name string, corp_code string, corp_name string, project_name string,"
        " data_level string, role string, record_id string, company_id string",
        ["name", "corp_code", "project_name", "role"],
    ),
    "winner_bid": _table(
        "corp_code string, project_name string, bidder_name string, area_code string,"
        " win_amt double, create_time timestamp_ntz, tender_org_name string,"
        " tos string, city_name string",
        ["corp_code", "project_name"],
    ),
}


def _cols(table: str) -> list[str]:
    return MERGE_SPECS[table]["cols"]


def merge_sql_for(table: str, catalog_table: str | None = None) -> str:
    """MERGE INTO statement for one of the 8 sink tables."""
    spec = MERGE_SPECS[table]
    return to_merge_sql(
        catalog_table or table, spec["keys"], spec["cols"], spec["on_matched_sql"]
    )


def empty_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Every sink table, empty and typed as MERGE_SPECS declares it."""
    return {t: spark.createDataFrame([], spec["ddl"]) for t, spec in MERGE_SPECS.items()}


def employee_merge_key(df: DataFrame) -> DataFrame:
    """cert_code when present, else name|corp_code — the reference's
    conditional lookup (CompanyEmployee.py:51-103) as a computed key."""
    return df.withColumn(
        "merge_key",
        F.coalesce(
            F.when(F.col("cert_code") != "", F.col("cert_code")),
            F.concat_ws("|", F.col("name"), F.col("corp_code")),
        ),
    )


def upsert(table: str, current: DataFrame, incoming: DataFrame) -> DataFrame:
    """MERGE ``incoming`` into ``current`` with the table's MERGE_SPECS
    keys, matched-update rules and duplicate-key policy — the parquet
    emulation of ``merge_sql_for(table)``. The frames may carry a subset
    of the declared columns (rules for absent columns are skipped); an
    employee frame without ``merge_key`` gets it computed."""
    spec = MERGE_SPECS[table]
    if table == "employee":
        current, incoming = (
            d if "merge_key" in d.columns else employee_merge_key(d)
            for d in (current, incoming)
        )
    return merge_upsert(
        current, incoming, spec["keys"],
        on_matched_sql=spec["on_matched_sql"], on_duplicate=spec["on_duplicate"],
    )


def derive_sections(items: dict[str, DataFrame]) -> DataFrame:
    """Section rows from bid / control-price / rank evidence (auto-create
    semantics): full-outer combine on (project_id, section_id)."""
    from_bids = (
        items["bid"].groupBy("project_id", "section_id")
        .agg(F.count("*").alias("bid_size"))
    )
    from_ctl = items["lot_ctl"].select("project_id", "section_id", "lot_ctl_amt")
    from_ranks = (
        items["bid_rank"].filter(F.col("rank") == 1)
        .select(
            "project_id", "section_id",
            F.col("bidder_name").alias("winning_bidder"),
            F.col("win_amt").alias("winning_amount"),
        )
    )
    sections = (
        from_bids.join(from_ctl, ["project_id", "section_id"], "full_outer")
        .join(from_ranks, ["project_id", "section_id"], "full_outer")
    )
    # W3 state machine: rank 1 present → completed, else pending (ranks 2/3
    # would map to second/third; candidates fixtures emit rank 1 like the
    # reference's hardcoded winner rank, bid_info.py:318)
    return sections.withColumn(
        "status",
        F.when(F.col("winning_bidder").isNotNull(), "completed").otherwise("pending"),
    )


def upsert_wave(
    current: dict[str, DataFrame],
    items: dict[str, DataFrame],
    pending: dict[str, DataFrame] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """One wave of relational maintenance.

    Returns (new_tables, new_pending). ``pending`` children (bid /
    lot_ctl / bid_rank rows whose project was unknown last wave) are
    retried by unioning into this wave's items before the parent check.
    """
    pending = pending or {}
    merged_items = {}
    for k in ("bid", "lot_ctl", "bid_rank"):
        df = items[k]
        if k in pending:
            df = df.unionByName(pending[k])
        merged_items[k] = df

    # 1. projects merge first (parents before children, like the reference
    #    draining pending_items on project commit, bidSaver.py:129-130)
    proj_in = items["project"].withColumn("session_size", F.lit(None).cast("int")) \
        .withColumn("stage", F.lit(None).cast("int"))
    # (notice fields may be NULL on re-sight: the spec keeps existing)
    new_project = upsert("project", current["project"], proj_in.select(*_cols("project")))

    # 2. split children into known-parent vs pending (J3 roll-forward)
    known = new_project.select("project_id")
    new_pending: dict[str, DataFrame] = {}
    ready: dict[str, DataFrame] = {}
    for k, df in merged_items.items():
        ready[k] = df.join(known, "project_id", "left_semi")
        new_pending[k] = df.join(known, "project_id", "left_anti")

    # 3. bid + rank merges on their natural keys (before sections: the
    #    section roll-up below reads the MERGED bid table)
    new_bid = upsert("bid", current["bid"], ready["bid"].select(*_cols("bid")))
    new_rank = upsert(
        "bid_rank", current["bid_rank"], ready["bid_rank"].select(*_cols("bid_rank"))
    )

    # 4. section auto-create + merge. bid_size and status are NOT taken
    #    from the wave-local evidence — both are re-derived from merged
    #    state so the final table is identical for any arrival order:
    #    - bid_size = count over the MERGED bid table (a wave-local count
    #      would overwrite the true total when one section's bids arrive
    #      across waves);
    #    - status   = 'completed' iff the MERGED winning_bidder is known
    #      (the reference sets status only on the rank path,
    #      bidSaver.py:367-375 — a bids-only wave must never downgrade a
    #      completed section back to 'pending').
    sect_in = derive_sections(ready)
    merged_sections = upsert(
        "bid_section", current["bid_section"], sect_in.select(*_cols("bid_section"))
    )
    bid_counts = new_bid.groupBy("project_id", "section_id").agg(
        F.count("*").cast("int").alias("_bid_size")
    )
    new_sections = (
        merged_sections.drop("bid_size", "status")
        .join(bid_counts, ["project_id", "section_id"], "left")
        .withColumn("bid_size", F.col("_bid_size"))
        .withColumn(
            "status",
            F.when(F.col("winning_bidder").isNotNull(), "completed")
            .otherwise("pending"),
        )
        .select(*_cols("bid_section"))
    )

    # 5. join-derived project stage + session_size (order-independent
    #    equivalent of the reference's stage mutations)
    has_sections = new_sections.groupBy("project_id").agg(
        F.count("*").alias("session_size")
    )
    has_ranks = new_rank.select("project_id").distinct().withColumn("_hr", F.lit(1))
    new_project = (
        new_project.drop("session_size", "stage")
        .join(has_sections, "project_id", "left")
        .join(has_ranks, "project_id", "left")
        .withColumn(
            "stage",
            F.lit(1)
            + F.when(F.col("session_size").isNotNull(), 1).otherwise(0)
            + F.when(F.col("_hr").isNotNull(), 1).otherwise(0),
        )
        .drop("_hr")
        .select(*_cols("project"))
    )

    return (
        {
            "project": new_project,
            "bid_section": new_sections,
            "bid": new_bid,
            "bid_rank": new_rank,
        },
        new_pending,
    )
