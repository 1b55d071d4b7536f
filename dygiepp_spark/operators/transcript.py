"""Transcript-native analytics: conversation rollups and sessionization.

The engine's input is an Iceberg table of multi-turn conversation / agent
transcripts (conv_id, turn_idx, role, text, tool, ts). Beyond the KG
extraction pipeline, an analytics user of that table asks two standing
questions this module answers:

* :func:`conv_stats` — per-conversation rollup (turn counts by role, token
  volume, mean turn length). ONE hash aggregation keyed on conv_id with
  map-side combine; row-local token counting. No skew concern: the
  aggregate state per conv is a handful of longs regardless of
  conversation length.
* :func:`sessionize` — split each conversation into sessions wherever the
  inter-turn gap exceeds ``gap_sec`` (the standard event-log
  sessionization). Two window functions partitioned by conv_id (lag,
  then a running sum over the boundary flags). The window partitioning is
  the table's natural key, so at 100 TB this is one shuffle on conv_id —
  and none at all when the table is already bucketed/sorted by
  (conv_id, turn_idx), the layout the pipeline writes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from dygiepp_spark.functions.text import tokens_col


def conv_stats(turns: DataFrame) -> DataFrame:
    """Per-conversation rollup:
    (conv_id, n_turns, n_user_turns, n_assistant_turns, total_tokens,
    mean_turn_tokens)."""
    n_tok = F.size(tokens_col(F.col("text")))
    return (
        turns.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
            .cast("bigint")
            .alias("n_user_turns"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
            .cast("bigint")
            .alias("n_assistant_turns"),
            F.sum(n_tok).cast("bigint").alias("total_tokens"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_user_turns",
            "n_assistant_turns",
            "total_tokens",
            (
                F.col("total_tokens").cast("double")
                / F.col("n_turns").cast("double")
            ).alias("mean_turn_tokens"),
        )
    )


def sessionize(
    turns: DataFrame, gap_sec: int = 30, ts_col: str = "ts_sec"
) -> DataFrame:
    """Assign a per-conversation ``session_ix`` (0-based) that increments
    whenever the gap since the previous turn exceeds ``gap_sec`` seconds.

    ``ts_col`` is a numeric epoch/offset seconds column (a timestamp cast
    works: ``col("ts").cast("long")``). Output adds ``session_ix`` and
    ``gap_from_prev`` (null on each conversation's first turn).
    """
    w = Window.partitionBy("conv_id").orderBy(ts_col, "turn_idx")
    gap = F.col(ts_col) - F.lag(ts_col).over(w)
    flagged = turns.withColumn("gap_from_prev", gap).withColumn(
        "_new_session",
        F.when(F.col("gap_from_prev") > gap_sec, 1).otherwise(0),
    )
    running = (
        Window.partitionBy("conv_id")
        .orderBy(ts_col, "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.withColumn(
        "session_ix", F.sum("_new_session").over(running).cast("int")
    ).drop("_new_session")


def session_stats(sessions: DataFrame) -> DataFrame:
    """Rollup of :func:`sessionize` output: one row per (conv, session)
    with its turn span and duration. Same single-agg shape as conv_stats."""
    return sessions.groupBy("conv_id", "session_ix").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        (F.max("ts_sec") - F.min("ts_sec")).cast("bigint").alias("duration_sec"),
    )


def turn_taking(turns: DataFrame) -> DataFrame:
    """Per-conversation turn-taking structure:
    (conv_id, n_turns, n_switches, n_runs, max_run_len, first_role,
    last_role).

    A "run" is a maximal streak of consecutive same-role turns
    (gaps-and-islands: run id = running count of role switches). Two
    windows partitioned on conv_id + two hash aggregations — same
    single-shuffle shape as :func:`conv_stats` on a conv_id-bucketed
    table. Derived turns alternate user/assistant strictly, so the
    interesting signal appears on real transcripts where tool/system
    turns break runs; the operator is general either way.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.when(
            F.lag("role").over(w).isNull() | (F.lag("role").over(w) == F.col("role")),
            0,
        )
        .otherwise(1)
        .alias("_switch"),
    )
    run_w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = flagged.withColumn("run_id", F.sum("_switch").over(run_w))
    per_run = runs.groupBy("conv_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min_by("role", "turn_idx").alias("role"),
        F.min("turn_idx").alias("_first_turn"),
        F.max("turn_idx").alias("_last_turn"),
    )
    return per_run.groupBy("conv_id").agg(
        F.sum("run_len").cast("bigint").alias("n_turns"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_switches"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("max_run_len"),
        F.min_by("role", "_first_turn").alias("first_role"),
        F.max_by("role", "_last_turn").alias("last_role"),
    )


def response_latency(turns: DataFrame, ts_col: str = "ts_sec") -> DataFrame:
    """Per-conversation assistant response-latency rollup:
    (conv_id, n_responses, mean_latency, max_latency, min_latency) where
    a response is an assistant turn directly following a user turn and
    latency = its ts gap — the standing agent-quality question over a
    transcript table. One lag window + one agg, both partitioned on
    conv_id (same zero-extra-shuffle story as sessionize on a bucketed
    table). mean is the single double division of two exact integers,
    keeping the bit-parity contract.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = (
        turns.select(
            "conv_id",
            "turn_idx",
            "role",
            (F.col(ts_col) - F.lag(ts_col).over(w)).alias("gap"),
            F.lag("role").over(w).alias("prev_role"),
        )
        .filter(
            (F.col("role") == "assistant") & (F.col("prev_role") == "user")
        )
    )
    agg = gaps.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.sum("gap").cast("bigint").alias("_total"),
        F.max("gap").cast("bigint").alias("max_latency"),
        F.min("gap").cast("bigint").alias("min_latency"),
    )
    return agg.select(
        "conv_id",
        "n_responses",
        (F.col("_total").cast("double") / F.col("n_responses").cast("double")).alias(
            "mean_latency"
        ),
        "max_latency",
        "min_latency",
    )


#: synthetic tool vocabulary for the tool-analytics queries (the parquet
#: turn derivation carries tool=NULL; real agent transcripts populate it)
TOOL_VOCAB = ("search", "code", "browse", "calc")


def with_synthetic_tools(turns: DataFrame) -> DataFrame:
    """Deterministically populate the ``tool`` column on assistant turns
    (every third assistant turn by portable hash, tool picked from
    TOOL_VOCAB by a second hash) — the same byte-identical augmentation
    contract as web.with_synthetic_urls, so tool analytics are
    oracle-checkable on a corpus whose derivation carries tool=NULL."""
    from dygiepp_spark.functions.hashing import hash60

    key = F.concat(F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string"))
    pick = hash60(key)
    vocab = F.array(*[F.lit(t) for t in TOOL_VOCAB])
    return turns.withColumn(
        "tool",
        F.when(
            (F.col("role") == "assistant") & (pick % 3 == 0),
            F.element_at(vocab, (pick % len(TOOL_VOCAB) + 1).cast("int")),
        ).otherwise(F.lit(None).cast("string")),
    )


def tool_usage(turns: DataFrame) -> DataFrame:
    """Per-tool usage rollup over an agent-transcript corpus: call count,
    conversations touched, and mean call position (exact BIGINT-sum /
    count double — IEEE-identical across engines). One map-side-
    combinable agg keyed by tool; NULL (no tool) rows drop first, so the
    shuffle carries only actual tool calls."""
    calls = turns.filter(F.col("tool").isNotNull())
    return calls.groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.count_distinct("conv_id").alias("n_convs"),
        (
            F.sum(F.col("turn_idx").cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_turn_idx"),
    )


def tool_transitions(turns: DataFrame) -> DataFrame:
    """Tool-call transition matrix: for consecutive tool calls WITHIN a
    conversation, count (tool_from, tool_to) pairs — the agent-behavior
    signature (which tool follows which). The lag window is partitioned
    by conv_id (zero extra shuffle on a conv-bucketed layout, same as
    sessionize); the final count is map-side combinable."""
    from pyspark.sql import Window

    calls = turns.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        calls.withColumn("tool_from", F.lag("tool").over(w))
        .filter(F.col("tool_from").isNotNull())
        .groupBy("tool_from", F.col("tool").alias("tool_to"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tool_chains(turns: DataFrame) -> DataFrame:
    """Longest consecutive same-tool run per conversation — the
    agent-behavior 'stuck in a loop' report: over the conversation's
    tool-CALL subsequence (non-tool turns skipped, same adjacency as
    tool_transitions), find each maximal same-tool island via the
    gaps-and-islands double row_number, and keep the conversation's
    longest one. Ties break (run_len DESC, tool ASC, start_turn ASC) so
    the winner is total-ordered on both engines.

    Output: ``(conv_id, tool, run_len, start_turn)``.

    Scale: every window is conv_id-partitioned (zero extra shuffle on a
    conv-bucketed layout); the island rollup is map-side combinable and
    the final pick ranks at most a conversation's island count.
    """
    from pyspark.sql import Window

    calls = turns.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    w_all = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_tool = Window.partitionBy("conv_id", "tool").orderBy("turn_idx")
    runs = (
        calls.withColumn(
            "isl",
            F.row_number().over(w_all) - F.row_number().over(w_tool),
        )
        .groupBy("conv_id", "tool", "isl")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("turn_idx").alias("start_turn"),
        )
    )
    w_pick = Window.partitionBy("conv_id").orderBy(
        F.col("run_len").desc(), F.col("tool").asc(), F.col("start_turn").asc()
    )
    return (
        runs.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select("conv_id", "tool", "run_len", "start_turn")
    )


def conv_funnel(turns: DataFrame) -> DataFrame:
    """Per-stage conversation yield of the extraction pipeline — the
    one-row funnel report (total convs, convs with >= 1 tool call,
    >= 1 entity mention, >= 1 relation triple, plus the stage yields)
    that says where the corpus thins out before KG construction.

    The ``tool`` column is read AS-IS — callers on a synthetic corpus
    augment first (``conv_funnel(with_synthetic_tools(turns))``, the
    same layering as tool_usage / tool_transitions / tool_chains), so
    real tool calls are never silently overwritten.

    Scale: four distinct-conv counts, each a one-row map-side-combinable
    agg over a frame the pipeline already computes, cross-joined into one
    lazy plan; the yields are exact integer divisions.
    """
    from dygiepp_spark.operators.extraction import detect_mentions, emit_triples

    def n_convs(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count_distinct("conv_id").alias(name))

    row = (
        n_convs(turns, "n_convs")
        .crossJoin(n_convs(turns.filter(F.col("tool").isNotNull()), "n_tooled"))
        .crossJoin(n_convs(detect_mentions(turns), "n_mentioned"))
        .crossJoin(n_convs(emit_triples(turns), "n_tripled"))
    )
    safe = F.greatest(F.col("n_convs"), F.lit(1)).cast("double")
    return row.select(
        "*",
        (F.col("n_mentioned").cast("double") / safe).alias("mention_yield"),
        (F.col("n_tripled").cast("double") / safe).alias("triple_yield"),
    )


def turn_length_drift(turns: DataFrame) -> DataFrame:
    """Conversation-dynamics report: per turn position, how many
    conversations are still alive and the mean token length of that
    turn — the do-conversations-get-longer (or die) curve that informs
    both truncation budgets and the max-turn cap in sessionization.

    Scale: one row-local token count + one map-side-combinable agg on
    the tiny turn_idx domain; the mean is an exact-integer division.
    """
    from dygiepp_spark.functions.text import tokens_col

    lens = turns.select(
        "turn_idx", F.size(tokens_col(F.col("text"))).alias("_n")
    )
    return (
        lens.groupBy("turn_idx")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("_n").cast("bigint")).alias("_tok"),
        )
        .select(
            "turn_idx", "n_turns",
            (
                F.col("_tok").cast("double") / F.col("n_turns").cast("double")
            ).alias("mean_tokens"),
        )
    )


def gap_hist(turns: DataFrame, ts_col: str = "ts_sec") -> DataFrame:
    """Inter-turn gap distribution in power-of-two buckets — the report
    that picks the sessionization ``gap_sec`` threshold empirically (a
    bimodal histogram's valley IS the threshold) instead of guessing:
    ``(log2_bin, n_gaps, min_gap, max_gap)`` over every within-
    conversation consecutive-turn gap; zero gaps land in bin -1 and
    NEGATIVE gaps (out-of-order timestamps - merged logs, clock
    regressions) land in bin -2 so ordering corruption surfaces in the
    report instead of masquerading as same-second turns.

    Scale: one conv-partitioned lag window (zero extra shuffle on the
    bucketed layout) + one map-side-combinable agg over the tiny bin
    domain; the floor-log2 uses the engine-portable length(bin(x))-1.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = (
        turns.select(
            "conv_id", "turn_idx",
            (F.col(ts_col) - F.lag(ts_col).over(w)).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    b = (
        F.when(
            F.col("gap") > 0,
            (F.length(F.bin(F.col("gap"))) - 1).cast("bigint"),
        )
        .when(F.col("gap") == 0, F.lit(-1).cast("bigint"))
        .otherwise(F.lit(-2).cast("bigint"))
    )
    return gaps.groupBy(b.alias("log2_bin")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap").cast("bigint").alias("min_gap"),
        F.max("gap").cast("bigint").alias("max_gap"),
    )


def role_vocab_divergence(
    turns: DataFrame, min_count: int = 5, scale: int = 1_000_000
) -> DataFrame:
    """Role-conditional vocabulary table: per token (support >=
    ``min_count``), its user/assistant occurrence counts and the
    assistant share in integer ppm — the which-words-does-the-model-
    overuse report behind style audits and role-leak detection (a
    'user' token showing 100% assistant share in generated data is a
    template artifact).

    Scale: one token explode + ONE map-side-combinable conditional agg
    keyed on the token; output is vocabulary-bounded. ppm is BIGINT
    floor division — bit-portable.
    """
    from dygiepp_spark.functions.text import tokens_col

    toks = turns.select(
        "role", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
            .cast("bigint")
            .alias("n_user"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
            .cast("bigint")
            .alias("n_assistant"),
        )
        .filter(F.col("n_user") + F.col("n_assistant") >= min_count)
        .select(
            "token", "n_user", "n_assistant",
            F.expr(
                f"CAST(n_assistant * {scale}L div (n_user + n_assistant)"
                " AS BIGINT)"
            ).alias("assistant_ppm"),
        )
    )
