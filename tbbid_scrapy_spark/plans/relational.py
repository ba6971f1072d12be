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

Company/employee/performance/winner sinks (CompanyEmployee.py:28-188,
winner_bid.py:20-67) including the conditional employee key
(cert_code, else (name, corp_code)) and the bid_count increment
(:121-122) are below as well.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tbbid_scrapy_spark.sources.sink import merge_upsert

PROJECT_COLS = [
    "project_id", "title", "url", "notice_content", "construction_funds",
    "project_duration", "company_req", "person_req", "session_size", "stage",
]

SECTION_COLS = [
    "project_id", "section_id", "bid_size", "lot_ctl_amt", "status",
    "winning_bidder", "winning_amount",
]

BID_COLS = ["project_id", "section_id", "bidder_name", "bid_amount"]
RANK_COLS = ["project_id", "section_id", "bidder_name", "rank", "manager_name", "win_amt"]


# Natural keys + matched-update SQL for every sink table — the single
# source for the Iceberg MERGE INTO surface (sources/sink.py to_merge_sql;
# reference upsert semantics bidSaver.py:61-395, CompanyEmployee.py:28-188,
# winner_bid.py:20-67, models/models.py:51-90). '_keep_existing' marks
# coalesce(s.c, t.c) matched behavior (NULL on re-sight keeps the old
# value, like the reference only writing parsed fields).
_KEEP = "coalesce(s.{c}, t.{c})"
COMPANY_COLS = [
    "corp_code", "name", "corp", "corp_asset", "reg_address", "valid_date",
    "qualifications", "others", "bid_count",
]
EMPLOYEE_COLS = [
    "merge_key", "corp_code", "name", "cert_code", "role", "valid_date",
    "major", "birth_date_raw", "id_number", "person_id",
]
PERF_COLS = [
    "name", "corp_code", "corp_name", "project_name", "data_level", "role",
    "record_id", "company_id",
]
WINNER_COLS = [
    "corp_code", "project_name", "bidder_name", "area_code", "win_amt",
    "create_time", "tender_org_name", "tos", "city_name",
]

MERGE_SPECS: dict[str, dict] = {
    "project": {
        "keys": ["project_id"],
        "cols": PROJECT_COLS,
        "on_matched_sql": {
            c: _KEEP.format(c=c) for c in PROJECT_COLS if c != "project_id"
        },
    },
    "bid_section": {
        "keys": ["project_id", "section_id"],
        "cols": SECTION_COLS,
        "on_matched_sql": {
            **{c: _KEEP.format(c=c) for c in SECTION_COLS[2:]},
            # status follows the MERGED winning evidence: the reference
            # sets status ONLY on the rank path (bidSaver.py:367-375) — a
            # bid/section item arriving after rank 1 must not downgrade
            # 'completed' back to the source's wave-local 'pending'.
            "status": (
                "CASE WHEN coalesce(s.winning_bidder, t.winning_bidder)"
                " IS NOT NULL THEN 'completed'"
                " ELSE coalesce(s.status, t.status) END"
            ),
        },
    },
    "bid": {"keys": ["project_id", "section_id", "bidder_name"], "cols": BID_COLS},
    "bid_rank": {"keys": ["project_id", "section_id", "rank"], "cols": RANK_COLS},
    "company": {
        "keys": ["corp_code"],
        "cols": COMPANY_COLS,
        "on_matched_sql": {
            "bid_count": "coalesce(t.bid_count, 0) + coalesce(s.bid_count, 0)",
            # the reference keeps the stored value unless the new one is
            # truthy (`if adapter.get('others')`, CompanyEmployee.py:122-123)
            # — every other company field is overwritten unconditionally,
            # which is merge_upsert's default.
            "others": (
                "CASE WHEN s.others IS NOT NULL AND s.others != ''"
                " THEN s.others ELSE t.others END"
            ),
        },
    },
    "employee": {"keys": ["merge_key"], "cols": EMPLOYEE_COLS},
    "person_performance": {
        "keys": ["name", "corp_code", "project_name", "role"],
        "cols": PERF_COLS,
    },
    "winner_bid": {"keys": ["corp_code", "project_name"], "cols": WINNER_COLS},
}


def merge_sql_for(table: str, catalog_table: str | None = None) -> str:
    """MERGE INTO statement for one of the 8 sink tables."""
    from tbbid_scrapy_spark.sources.sink import to_merge_sql

    spec = MERGE_SPECS[table]
    return to_merge_sql(
        catalog_table or table,
        spec["keys"],
        spec["cols"],
        spec.get("on_matched_sql"),
    )


def empty_tables(spark: SparkSession) -> dict[str, DataFrame]:
    return {
        "project": spark.createDataFrame(
            [], "project_id string, title string, url string, notice_content string,"
                "construction_funds string, project_duration string, company_req string,"
                "person_req string, session_size int, stage int"),
        "bid_section": spark.createDataFrame(
            [], "project_id string, section_id string, bid_size int, lot_ctl_amt double,"
                "status string, winning_bidder string, winning_amount double"),
        "bid": spark.createDataFrame(
            [], "project_id string, section_id string, bidder_name string, bid_amount double"),
        "bid_rank": spark.createDataFrame(
            [], "project_id string, section_id string, bidder_name string, rank int,"
                "manager_name string, win_amt double"),
    }


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
    new_project = merge_upsert(
        current["project"], proj_in.select(*PROJECT_COLS),
        MERGE_SPECS["project"]["keys"],
        # notice fields may be NULL on re-sight; keep existing when source null
        on_matched={
            c: (lambda col: F.coalesce(F.col(f"s.{col}"), F.col(f"t.{col}")))
            for c in PROJECT_COLS if c != "project_id"
        },
    )

    # 2. split children into known-parent vs pending (J3 roll-forward)
    known = new_project.select("project_id")
    new_pending: dict[str, DataFrame] = {}
    ready: dict[str, DataFrame] = {}
    for k, df in merged_items.items():
        ready[k] = df.join(known, "project_id", "left_semi")
        new_pending[k] = df.join(known, "project_id", "left_anti")

    # 3. bid + rank merges on their natural keys (before sections: the
    #    section roll-up below reads the MERGED bid table)
    new_bid = merge_upsert(
        current["bid"], ready["bid"].select(*BID_COLS), MERGE_SPECS["bid"]["keys"]
    )
    new_rank = merge_upsert(
        current["bid_rank"], ready["bid_rank"].select(*RANK_COLS),
        MERGE_SPECS["bid_rank"]["keys"],
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
    merged_sections = merge_upsert(
        current["bid_section"], sect_in.select(*SECTION_COLS),
        MERGE_SPECS["bid_section"]["keys"],
        on_matched={
            c: (lambda col: F.coalesce(F.col(f"s.{col}"), F.col(f"t.{col}")))
            for c in SECTION_COLS[2:]
        },
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
        .select(*SECTION_COLS)
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
        .select(*PROJECT_COLS)
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


# ---------------------------------------------------------------------------
# company / employee / performance / winner sinks
# ---------------------------------------------------------------------------

def upsert_company(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """corp_code-keyed merge with bid_count accumulation on re-sight
    (CompanyEmployee.py:105-141; increment :121-122 done set-wise: the
    incoming side carries this batch's sighting count). ``others`` keeps
    the stored value unless the new one is truthy (:122-123); all other
    fields take the source value unconditionally like the reference."""
    on_matched = {
        "bid_count": lambda c: F.coalesce(F.col(f"t.{c}"), F.lit(0))
        + F.coalesce(F.col(f"s.{c}"), F.lit(0)),
    }
    if "others" in current.columns:
        on_matched["others"] = lambda c: F.when(
            F.col(f"s.{c}").isNotNull() & (F.col(f"s.{c}") != ""), F.col(f"s.{c}")
        ).otherwise(F.col(f"t.{c}"))
    # on_duplicate='error': bid_count is ADDITIVE — a silent last-wins
    # dedup of a duplicate-corp batch would drop an increment (the
    # reference increments per sighting row). The corp-chain pipeline
    # pre-aggregates to one row per corp_code (corp_items.company_frames
    # groupBy), so a duplicate here is a caller bug that must fail loud.
    return merge_upsert(
        current, incoming, MERGE_SPECS["company"]["keys"], on_matched=on_matched,
        on_duplicate="error",
    )


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


def upsert_employee(current: DataFrame, incoming: DataFrame) -> DataFrame:
    cur = employee_merge_key(current) if "merge_key" not in current.columns else current
    inc = employee_merge_key(incoming) if "merge_key" not in incoming.columns else incoming
    return merge_upsert(cur, inc, MERGE_SPECS["employee"]["keys"])


def upsert_person_performance(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """(name, corp_code, project_name, role) natural key
    (CompanyEmployee.py:143-188)."""
    return merge_upsert(current, incoming, MERGE_SPECS["person_performance"]["keys"])


def upsert_winner_bid(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """(corp_code, project_name) natural key (winner_bid.py:20-67)."""
    return merge_upsert(current, incoming, MERGE_SPECS["winner_bid"]["keys"])
