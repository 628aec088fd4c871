"""Order-dependent per-conversation features (SURVEY.md §2.5).

All windows partition by conv_id and order by turn_idx — the explicit
replacement for the reference's implicit file-order invariant
(/root/reference/src/ml4logs/data/hdfs.py:131-136). turn_idx is the
only ordering key (ts can tie — the dup-ts fixture pins this).

Scale: one shuffle on conv_id for the whole family of window features;
computing them together in one projection reuses that single exchange.
Skew (the giant conversation) is bounded because window state here is
O(1) per row (lag/lead/row_number), not a materialized group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ml4logs_spark.operators import textqa, twophase


def w_conv():
    """Per-conversation ordered window (needs an active SparkSession)."""
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def tool_latency() -> Column:
    """Microseconds from a turn to the next turn of its conversation
    (NULL on the last turn): a tool call's latency, over ``w_conv``."""
    us = F.unix_micros(F.col("ts"))
    return F.lead(us).over(w_conv()) - us


def timedelta_col(ts_col: str = "ts") -> Column:
    """log10(1 + Δseconds) with first turn -> 0.0.

    Exact reference semantics (/root/reference/src/ml4logs/features/
    extract_timedeltas.py:70-81): ``timedeltas = ones(N);
    timedeltas[1:] += Δs; log10`` — i.e. first turn log10(1)=0, later
    turns log10(1+Δs). Δs here uses microsecond precision (the input has
    sub-second timestamps; the reference's %S-granularity parse is a
    limitation of its regex, not a semantic).
    """
    us = F.unix_micros(F.col(ts_col))
    delta_s = (us - F.lag(us).over(w_conv())) / F.lit(1000000.0)
    return F.log10(F.coalesce(delta_s, F.lit(0.0)) + F.lit(1.0))


def with_timedeltas(turns: DataFrame) -> DataFrame:
    return turns.withColumn("td", timedelta_col())


def with_next_template(parsed: DataFrame) -> DataFrame:
    """Per-turn (input -> output) shift for sequence models.

    Analog of the reference's ``x[:-1] -> x[1:]`` pairing
    (/root/reference/src/ml4logs/models/baselines/seq2seq.py:290-298);
    the last turn of each conversation has no successor -> null.
    """
    return parsed.withColumn("next_template_id", F.lead("template_id").over(w_conv()))


def with_sessions(turns: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Gap-based sessionization within conversations.

    A turn starts a new session when it is the conversation's first turn
    or its gap from the previous turn exceeds ``gap_seconds``. session_idx
    is the running count of boundaries — one window exchange on conv_id,
    O(1) state per row (no collected groups), so the giant-conversation
    fixture streams through a single task without materializing.

    (Capability extension: the reference has no time-window semantics at
    all — SURVEY.md §2.9; this is the batch analog of streaming session
    windows.)
    """
    us = F.unix_micros(F.col("ts"))
    delta_s = (us - F.lag(us).over(w_conv())) / F.lit(1000000.0)
    boundary = F.when(
        delta_s.isNull() | (delta_s > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    return turns.withColumn(
        "session_idx",
        F.sum(boundary).over(
            w_conv().rowsBetween(Window.unboundedPreceding, 0)
        ) - 1,
    )


def session_stats(turns: DataFrame, gap_seconds: int = 3600) -> DataFrame:
    """Per-(conv, session): size + duration seconds."""
    s = with_sessions(turns, gap_seconds)
    us = F.unix_micros(F.col("ts"))
    return s.groupBy("conv_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.round((F.max(us) - F.min(us)) / F.lit(1000000.0), 6).alias("duration_s"),
    )


def conv_offsets(turns: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Per-conversation size + exclusive prefix-sum offset.

    Parity with the reference's BlockSize/BlockOffset bookkeeping
    (ml4logs ``data/hdfs.py``), computed by ``twophase.positions`` over
    one row per conversation — no global sort."""
    sizes = turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("conv_size"))
    return twophase.positions(
        sizes, ["conv_id"], "conv_size", n_parts=n_parts
    ).select(
        "conv_id", "conv_size",
        (F.col("_pos") - F.col("conv_size")).alias("conv_offset"),
    )


def conv_loop_flags(turns: DataFrame, min_run: int = 3) -> DataFrame:
    """Agent-loop detection over transcripts: per conversation, the
    longest run of consecutive turns with identical (role, tool) —
    the "agent stuck retrying the same tool" signal a transcript QA
    pass gates on before the conversation enters a training mix
    (reference analog: the anomalous-block labels its HDFS pipeline
    consumes are exactly this kind of per-block behavioral flag,
    data/hdfs.py label join).

    Returns (conv_id, n_turns, n_runs, max_run, loop_flag) where a
    run is a maximal streak of equal (role, coalesce(tool, '')) in
    turn_idx order and loop_flag = max_run >= min_run.

    Scale shape: ONE conv_id exchange feeds everything — the two
    ordered windows (lag boundary + running sum) and the run-length
    count window both cluster by conv_id (hash partitioning on
    conv_id satisfies the (conv_id, run_id) clustered distribution,
    so no second exchange), and the final groupBy(conv_id) reuses it
    too. Window state is O(1) per row; the giant-conversation skew
    case degrades one task's sort, never memory."""
    w = w_conv()
    key = F.concat_ws("\x1f", F.col("role"), F.coalesce(F.col("tool"), F.lit("")))
    prev = F.lag(key).over(w)
    boundary = F.when(prev.isNull() | (prev != key), F.lit(1)).otherwise(F.lit(0))
    with_run = turns.select(
        "conv_id",
        "turn_idx",
        F.sum(boundary).over(w).alias("run_id"),
    )
    run_len = F.count(F.lit(1)).over(Window.partitionBy("conv_id", "run_id"))
    per_turn = with_run.withColumn("run_len", run_len)
    return (
        per_turn.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("run_id").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
        )
        .withColumn("loop_flag", F.col("max_run") >= F.lit(min_run))
    )


def role_transition_counts(turns: DataFrame) -> DataFrame:
    """Dialog-structure statistic: corpus-wide counts of role -> next
    role transitions within conversations (who speaks after whom) —
    the transcript analog of the reference's template-occurrence
    count table (a tiny global aggregate describing sequence shape).

    Scale shape: one conv_id window exchange for the lead, then a
    groupBy over a handful of (role_a, role_b) keys — partial
    aggregation collapses everything map-side before the (tiny)
    second shuffle."""
    nxt = F.lead("role").over(w_conv())
    return (
        turns.select(F.col("role").alias("role_a"), nxt.alias("role_b"))
        .filter(F.col("role_b").isNotNull())
        .groupBy("role_a", "role_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tool_transition_counts(turns: DataFrame) -> DataFrame:
    """(tool_a, tool_b, n): corpus-wide counts of tool -> next-tool
    transitions within conversations, skipping intervening non-tool
    turns — the handoff matrix ("which tool follows which") next to
    ``role_transition_counts``'s dialog matrix. The lead window runs
    over the tool-filtered frame, so the pair is consecutive IN THE
    TOOL SUBSEQUENCE; same scale shape as the role matrix: one conv
    window exchange, then a tiny keyed aggregate that collapses
    map-side."""
    tools = turns.filter(F.col("tool").isNotNull())
    nxt = F.lead("tool").over(w_conv())
    return (
        tools.select(F.col("tool").alias("tool_a"), nxt.alias("tool_b"))
        .filter(F.col("tool_b").isNotNull())
        .groupBy("tool_a", "tool_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def tool_error_attribution(turns: DataFrame) -> DataFrame:
    """(tool, n_calls, n_followed_by_error, error_follow_ppm): for each
    tool, how often its call is IMMEDIATELY followed by an error turn
    in the same conversation — the "which tool precedes failures"
    attribution table. One lead window on the usual conv_id exchange,
    then a per-tool aggregate that collapses map-side; the ppm rate is
    exact integer arithmetic per the dialect rule."""
    nxt_err = (
        F.lead(F.col("text").like("error code %")).over(w_conv())
    )
    calls = turns.select("tool", nxt_err.alias("_err")).filter(
        F.col("tool").isNotNull()
    )
    agg = calls.groupBy("tool").agg(
        F.count(F.lit(1)).cast("long").alias("n_calls"),
        F.sum(F.when(F.col("_err"), 1).otherwise(0))
        .cast("long").alias("n_followed_by_error"),
    )
    return agg.select(
        "tool", "n_calls", "n_followed_by_error",
        F.expr("(n_followed_by_error * 1000000) div n_calls")
        .alias("error_follow_ppm"),
    )


def conv_ending_rollup(turns: DataFrame) -> DataFrame:
    """(day_us, n_convs_ended, n_error_ended, error_end_ppm): per-day
    count of conversations whose LAST turn lands on that day, and how
    many of them end on an error turn — the daily "abandoned after a
    failure" rate behind ``conv_endings``. Same descending row_number
    pick (conv_id exchange), then a bounded per-day aggregate; feeds
    the same drift pattern as ``daily_health_drift``."""
    w_desc = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
    last = turns.withColumn("_rn", F.row_number().over(w_desc)).filter(
        F.col("_rn") == 1
    )
    agg = last.groupBy(
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_convs_ended"),
        F.sum(
            F.when(F.col("text").like("error code %"), 1).otherwise(0)
        ).cast("long").alias("n_error_ended"),
    )
    return agg.select(
        "day_us", "n_convs_ended", "n_error_ended",
        F.expr("(n_error_ended * 1000000) div n_convs_ended")
        .alias("error_end_ppm"),
    )


def tool_retry_runs(turns: DataFrame, min_run: int = 2) -> DataFrame:
    """(conv_id, tool, max_run): the longest consecutive run of the
    SAME tool in each conversation's tool subsequence — the retry-storm
    detector (an agent hammering one tool back-to-back), reported only
    where max_run >= min_run. Gaps-and-islands on ONE window partition
    key: lag(tool) marks run starts, a running sum numbers the islands
    (O(1)-state running window, same conv_id exchange as every other
    conv op), then two tiny keyed aggregates."""
    tools = turns.filter(F.col("tool").isNotNull())
    prev = F.lag("tool").over(w_conv())
    new_run = F.when(
        prev.isNull() | (F.col("tool") != prev), F.lit(1)
    ).otherwise(F.lit(0))
    grp = F.sum(new_run).over(
        w_conv().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = tools.select("conv_id", "tool", grp.alias("_grp"))
    runs = isl.groupBy("conv_id", "tool", "_grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("conv_id", "tool")
        .agg(F.max("run_len").cast("long").alias("max_run"))
        .filter(F.col("max_run") >= min_run)
    )


def conv_endings(turns: DataFrame) -> DataFrame:
    """(conv_id, last_turn_idx, ends_on_error): does each conversation
    END on an error-template turn (0/1 BIGINT) — the "abandoned after
    a failure" outcome flag. Deterministic: turn_idx is unique within
    a conversation, so the descending row_number picks exactly one
    last turn; one conv window exchange, map-only afterward."""
    w_desc = Window.partitionBy("conv_id").orderBy(F.desc("turn_idx"))
    last = turns.withColumn("_rn", F.row_number().over(w_desc)).filter(
        F.col("_rn") == 1
    )
    return last.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("last_turn_idx"),
        F.col("text").like("error code %").cast("long").alias("ends_on_error"),
    )


def conv_quality_flags(
    turns: DataFrame,
    min_turns: int = 2,
    max_turns: int = 512,
    max_role_run: int = 4,
    min_user_frac: float = 0.1,
    max_tool_frac: float = 0.6,
) -> DataFrame:
    """Conversation-level SFT quality gate — the transcript analog of
    the documents table's Gopher rule set: per conversation, turn-count
    bounds, role-balance bounds (user participation floor, tool-spam
    ceiling), a monologue ceiling (longest run of consecutive
    same-role turns), and the opening-role convention (first turn by
    turn_idx is 'user' or 'system'). Returns the signals (fractions
    6dp), one boolean per rule, and the overall ``passes`` — the
    report an SFT pipeline reads before a conversation enters a
    training mix.

    Rule comparisons use the ROUNDED fractions (cross-engine-boundary
    discipline). Scale shape: the same ONE conv_id exchange as
    ``conv_loop_flags`` feeds the lag window, the run-length window,
    and the final conversation aggregate; window state is O(1) per
    row, so a giant conversation degrades one task's sort, never
    memory."""
    w = w_conv()
    role = F.coalesce(F.col("role"), F.lit(""))
    prev = F.lag(role).over(w)
    boundary = F.when(prev.isNull() | (prev != role), F.lit(1)).otherwise(
        F.lit(0)
    )
    with_run = turns.select(
        "conv_id",
        "turn_idx",
        role.alias("_role"),
        F.sum(boundary).over(w).alias("run_id"),
    )
    run_len = F.count(F.lit(1)).over(Window.partitionBy("conv_id", "run_id"))
    per_turn = with_run.withColumn("run_len", run_len)
    n = F.count(F.lit(1))
    agg = per_turn.groupBy("conv_id").agg(
        n.alias("n_turns"),
        F.max("run_len").cast("long").alias("max_role_run"),
        F.round(
            F.sum((F.col("_role") == "user").cast("long")) / n, 6
        ).alias("user_frac"),
        F.round(
            F.sum((F.col("_role") == "tool").cast("long")) / n, 6
        ).alias("tool_frac"),
        F.min_by("_role", "turn_idx").alias("opening_role"),
    )
    return agg.select(
        "*",
        (
            (F.col("n_turns") >= min_turns) & (F.col("n_turns") <= max_turns)
        ).alias("pass_turn_count"),
        (F.col("max_role_run") <= max_role_run).alias("pass_role_run"),
        (F.col("user_frac") >= min_user_frac).alias("pass_user_frac"),
        (F.col("tool_frac") <= max_tool_frac).alias("pass_tool_frac"),
        F.col("opening_role").isin("user", "system").alias("pass_opening"),
    ).withColumn(
        "passes",
        F.col("pass_turn_count")
        & F.col("pass_role_run")
        & F.col("pass_user_frac")
        & F.col("pass_tool_frac")
        & F.col("pass_opening"),
    )


def dedup_consecutive_turns(turns: DataFrame) -> DataFrame:
    """Transcript cleaning: drop a turn when it exactly repeats the
    previous turn of the same conversation in (role, tool, text) —
    the stuttering-agent / double-submit artifact an SFT pipeline
    strips before packing (the within-conversation complement of
    ``conv_loop_flags``, which only FLAGS the run; reference analog:
    the consecutive-duplicate-line collapse its log parsers assume
    upstream). Comparison is NULL-safe (NULL tool == NULL tool), the
    ordering key is W2's stable (conv_id, turn_idx), and only the
    immediately-previous turn is compared — an A B A pattern keeps
    all three. Returns the surviving rows, original columns.

    Shape at scale: one conv_id window exchange for three lags, then a
    map-side filter — O(1) state per row, no self-join, and the text
    column travels through the shuffle exactly once."""
    w = w_conv()
    # lag(turn_idx) gates the first turn explicitly: NULL-safe equality
    # alone would match an all-NULL first turn against the NULL lags
    same_prev = (
        F.lag("turn_idx").over(w).isNotNull()
        & F.col("role").eqNullSafe(F.lag("role").over(w))
        & F.col("tool").eqNullSafe(F.lag("tool").over(w))
        & F.col("text").eqNullSafe(F.lag("text").over(w))
    )
    return turns.withColumn("_dup", same_prev).filter(~F.col("_dup")).drop("_dup")


def pack_conversations(
    turns: DataFrame, seq_tokens: int = 2048, n_parts: int | None = None
) -> DataFrame:
    """SFT-batch prep: assign every conversation a position in a fixed
    token-budget training stream — the conversation-granular sibling of
    ``textqa.pack_sequences`` (chunks). Conversations are concatenated
    in canonical conv_id order; a conversation belongs to the sequence
    where its FIRST token lands (stream packing: deterministic,
    order-exact, conversations never split across the midline
    reassignments a greedy bin-packer would need). Token counts are the
    size of ``textqa._toks_lower`` (NULL text folds to '').

    Returns (conv_id, conv_tokens, token_offset, seq_id, seq_pos).

    Shape at scale: one conv_id aggregate for per-conversation token
    totals, then ``twophase.positions`` over that conv-count-sized
    frame; the division into sequences is map-side arithmetic."""
    if seq_tokens <= 0:
        raise ValueError(f"seq_tokens must be positive, got {seq_tokens}")
    # lower never changes whether a token is empty
    n_tok = F.size(textqa._toks_lower("text"))
    sizes = turns.groupBy("conv_id").agg(
        F.sum(n_tok).cast("long").alias("conv_tokens")
    )
    off = F.col("_pos") - F.col("conv_tokens")
    seq_id = F.floor(off / F.lit(seq_tokens))
    return twophase.positions(
        sizes, ["conv_id"], "conv_tokens", n_parts=n_parts
    ).select(
        "conv_id",
        "conv_tokens",
        off.cast("long").alias("token_offset"),
        seq_id.cast("long").alias("seq_id"),
        (off - seq_id * seq_tokens).cast("long").alias("seq_pos"),
    )


def tool_latency_stats(turns: DataFrame) -> DataFrame:
    """Per-tool latency rollup for agent telemetry: for every turn
    that invoked a tool, the time to the NEXT turn in the conversation
    (the tool-execution proxy an agent-transcript pipeline watches),
    aggregated per tool as (tool, n_calls, n_timed, total_latency_us,
    avg_latency_us, max_latency_us). The lead runs over the FULL turn
    stream (the next turn is usually not a tool turn), then tool turns
    are filtered; a conversation's last turn has no successor ->
    counted in n_calls but not in the latency aggregates (n_timed).
    All aggregates are exact integer micro-units with `div` integer
    division (the repo's cross-engine determinism rule — no float
    averaging).

    Shape at scale: the ONE conv_id window exchange shared by the
    whole family (lead is O(1) state, giant-conv safe), then a
    partial+final hash aggregate over tool-count rows."""
    with_lat = turns.select("tool", tool_latency().alias("_lat"))
    agg = with_lat.filter(F.col("tool").isNotNull()).groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.count("_lat").alias("n_timed"),
        F.coalesce(F.sum("_lat"), F.lit(0)).cast("long")
        .alias("total_latency_us"),
        F.max("_lat").alias("max_latency_us"),
    )
    return agg.select(
        "tool",
        "n_calls",
        "n_timed",
        "total_latency_us",
        F.when(
            F.col("n_timed") > 0,
            F.expr("total_latency_us div n_timed"),
        ).alias("avg_latency_us"),
        "max_latency_us",
    )


def daily_health_rollup(turns: DataFrame) -> DataFrame:
    """Per-day operational health of the transcript stream: turns,
    active conversations, error-template rate and tool-call rate —
    the monitoring rollup a telemetry pipeline publishes per ingest
    day. Rates are exact micro-unit integers per the determinism rule
    (rate_ppm = parts-per-million, floor'd identically on both
    engines).

    Shape at scale: a single partial+final hash aggregate keyed on
    (day) — day count is bounded, distinct conv_ids per day partial-
    aggregate map-side."""
    day = F.date_trunc("day", F.col("ts"))
    n = F.count(F.lit(1))
    err = F.sum(F.when(F.col("text").like("error code %"), 1).otherwise(0))
    tool = F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0))
    agg = turns.groupBy(F.unix_micros(day).alias("day_us")).agg(
        n.cast("long").alias("n_turns"),
        F.countDistinct("conv_id").alias("n_convs"),
        err.cast("long").alias("n_error_turns"),
        tool.cast("long").alias("n_tool_turns"),
    )
    return agg.select(
        "day_us", "n_turns", "n_convs", "n_error_turns", "n_tool_turns",
        F.expr("(n_error_turns * 1000000) div n_turns").alias("error_ppm"),
        F.expr("(n_tool_turns * 1000000) div n_turns").alias("tool_ppm"),
    )


def daily_health_state(turns: DataFrame) -> DataFrame:
    """(day_us, conv_id, n_turns, n_error_turns, n_tool_turns): the
    mergeable per-(day, conversation) partial counts behind
    ``daily_health_rollup`` — the telemetry day-2 state (the mergeable
    vocab-counts precedent): counts are additive under
    ``merge_daily_health_state``, and the per-day distinct-conv count
    falls out as the merged row count per day, so day N+1 only ever
    aggregates its own batch. Fixed-width rows, no text; state size is
    bounded by active (day, conv) pairs."""
    day = F.date_trunc("day", F.col("ts"))
    return turns.groupBy(
        F.unix_micros(day).alias("day_us"), "conv_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(
            F.when(F.col("text").like("error code %"), 1).otherwise(0)
        ).cast("long").alias("n_error_turns"),
        F.sum(
            F.when(F.col("tool").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_tool_turns"),
    )


def merge_daily_health_state(a: DataFrame, b: DataFrame) -> DataFrame:
    """Additive merge of two daily-health states (``twophase.sum_by``)."""
    return twophase.sum_by(a.unionByName(b), ["day_us", "conv_id"])


def daily_health_from_state(state: DataFrame) -> DataFrame:
    """Publish the per-day rollup from (possibly merged) state —
    identical output to ``daily_health_rollup`` over the union of the
    ingested batches (pytest-pinned): n_convs is the per-day state row
    count, rates are the same exact integer ppm."""
    agg = state.groupBy("day_us").agg(
        F.sum("n_turns").cast("long").alias("n_turns"),
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.sum("n_error_turns").cast("long").alias("n_error_turns"),
        F.sum("n_tool_turns").cast("long").alias("n_tool_turns"),
    )
    return agg.select(
        "day_us", "n_turns", "n_convs", "n_error_turns", "n_tool_turns",
        F.expr("(n_error_turns * 1000000) div n_turns").alias("error_ppm"),
        F.expr("(n_tool_turns * 1000000) div n_turns").alias("tool_ppm"),
    )


def slowest_tool_calls(turns: DataFrame, k: int = 20) -> DataFrame:
    """(conv_id, turn_idx, tool, latency_us): the k slowest tool calls
    corpus-wide — the "what do I look at first" triage query. Total
    order (latency desc, conv_id, turn_idx) makes the k-set
    deterministic under ties. Catalyst plans orderBy+limit as
    TakeOrderedAndProject: per-partition top-k heaps + a k-row merge on
    the driver — never a global sort, so the plan is the same at 10^12
    turns."""
    timed = turns.select(
        "conv_id", "turn_idx", "tool", tool_latency().alias("latency_us")
    ).filter(F.col("tool").isNotNull() & F.col("latency_us").isNotNull())
    return timed.orderBy(
        F.desc("latency_us"), "conv_id", "turn_idx"
    ).limit(k)


def merge_slowest_tool_calls(
    a: DataFrame, b: DataFrame, k: int = 20
) -> DataFrame:
    """Exact merge of two ``slowest_tool_calls`` states: top-k under a
    total order is a mergeable semilattice, so the k-set of the union
    of two per-batch k-sets IS the corpus k-set — day-2 triage keeps
    one k-row state per ledger and never re-windows history. Same
    TakeOrderedAndProject shape over 2k rows."""
    return a.unionByName(b).orderBy(
        F.desc("latency_us"), "conv_id", "turn_idx"
    ).limit(k)


def time_to_first_tool(turns: DataFrame) -> DataFrame:
    """(conv_id, n_turns, us_to_first_tool): how long each conversation
    runs before its first tool call (by event time; NULL when the
    conversation never calls a tool) — the agent-behavior funnel stat.
    One partial+final hash aggregate on conv_id; the conditional min
    partial-aggregates map-side like any other."""
    us = F.unix_micros(F.col("ts"))
    agg = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.min(us).alias("_start_us"),
        F.min(F.when(F.col("tool").isNotNull(), us)).alias("_first_tool_us"),
    )
    return agg.select(
        "conv_id", "n_turns",
        (F.col("_first_tool_us") - F.col("_start_us"))
        .cast("long").alias("us_to_first_tool"),
    )


def latency_drift_from_histograms(
    hist_a: DataFrame, hist_b: DataFrame, qs: tuple[float, ...] = (0.5, 0.95)
) -> DataFrame:
    """(tool, q_pct, bucket_lo_a, bucket_lo_b, bucket_shift, drifted):
    per-tool percentile drift between two latency-histogram states
    (yesterday's ledger vs today's) — the latency analog of
    ``daily_health_drift``, computed ENTIRELY on the bounded ~64-rows-
    per-tool states, so the day-over-day comparison never re-ranks or
    even touches raw history. ``bucket_shift`` counts power-of-2 steps
    (integer bit-length difference of the published bucket floors) and
    ``drifted`` (0/1 BIGINT) fires when the percentile moved at least
    one bucket, i.e. ~2x either way — the paging threshold the 2x
    histogram resolution supports honestly. Inner join: a tool must
    appear in both states to have a drift (new/retired tools are the
    rollup's business, not the drift check's)."""

    def _idx(c: str):
        return (
            F.when(F.col(c) <= 0, F.lit(0))
            .otherwise(F.expr(f"length(bin({c}))"))
            .cast("long")
        )

    a = latency_percentiles_from_histogram(hist_a, qs=qs).select(
        "tool", "q_pct", F.col("bucket_lo").alias("bucket_lo_a")
    )
    b = latency_percentiles_from_histogram(hist_b, qs=qs).select(
        "tool", "q_pct", F.col("bucket_lo").alias("bucket_lo_b")
    )
    return a.join(b, ["tool", "q_pct"]).select(
        "tool", "q_pct", "bucket_lo_a", "bucket_lo_b",
        (_idx("bucket_lo_b") - _idx("bucket_lo_a"))
        .cast("long").alias("bucket_shift"),
        (_idx("bucket_lo_b") != _idx("bucket_lo_a"))
        .cast("long").alias("drifted"),
    )


def daily_health_drift(turns: DataFrame, jump_pct: int = 50) -> DataFrame:
    """(day_us, n_turns, error_ppm, prev_error_ppm, error_ppm_delta,
    error_jump): day-over-day drift on the daily health rollup — the
    "did the error rate spike overnight" ops check that pages someone.

    The lag runs over the ALREADY-AGGREGATED per-day frame (bounded by
    calendar days — a century is ~36.5k rows), so the unpartitioned
    ordered window is a deliberate tiny-frame publish like the
    histogram percentile pass, not a corpus sort: the corpus itself
    aggregates exactly once inside ``daily_health_rollup``. The jump
    flag is pure integer arithmetic — current*100 >=
    previous*(100+jump_pct) AND current > previous (the second clause
    keeps flat-zero days from flagging) — emitted as 0/1 BIGINT per
    the dialect rule; day one has a NULL baseline and flag 0."""
    return ppm_drift(
        daily_health_rollup(turns),
        ppm_col="error_ppm", n_col="n_turns", prefix="error",
        jump_pct=jump_pct,
    )


def ppm_drift(
    daily: DataFrame,
    ppm_col: str,
    n_col: str,
    prefix: str,
    jump_pct: int = 50,
) -> DataFrame:
    """Generic day-over-day drift publish over any already-aggregated
    (day_us, <n_col>, <ppm_col>) frame: lag, exact integer delta, and
    the 0/1 jump flag (current*100 >= previous*(100+jump_pct) AND
    current > previous). Output columns: day_us, <n_col>, <ppm_col>,
    prev_<ppm_col>, <ppm_col>_delta, <prefix>_jump. Shared by
    ``daily_health_drift`` and ``conv_ending_drift`` — one drift
    contract, many rollups."""
    prev_col = f"prev_{ppm_col}"
    prev = F.lag(ppm_col).over(Window.orderBy("day_us"))
    out = daily.select("day_us", n_col, ppm_col, prev.alias(prev_col))
    jump = (
        (F.col(ppm_col) * 100 >= F.col(prev_col) * (100 + jump_pct))
        & (F.col(ppm_col) > F.col(prev_col))
    )
    return out.select(
        "day_us", n_col, ppm_col, prev_col,
        (F.col(ppm_col) - F.col(prev_col))
        .cast("long").alias(f"{ppm_col}_delta"),
        F.coalesce(jump, F.lit(False)).cast("long").alias(f"{prefix}_jump"),
    )


def conv_ending_drift(turns: DataFrame, jump_pct: int = 50) -> DataFrame:
    """(day_us, n_convs_ended, error_end_ppm, prev_error_end_ppm,
    error_end_ppm_delta, error_end_jump): day-over-day drift of the
    abandoned-after-failure rate — ``ppm_drift`` over
    ``conv_ending_rollup``, the same publish contract as
    ``daily_health_drift``."""
    return ppm_drift(
        conv_ending_rollup(turns),
        ppm_col="error_end_ppm", n_col="n_convs_ended",
        prefix="error_end", jump_pct=jump_pct,
    )


def tool_latency_percentiles(
    turns: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.95),
    n_parts: int | None = None,
) -> DataFrame:
    """Exact per-tool latency percentiles: (tool, q_pct, n_timed,
    latency_us) where latency_us is the ceil(q*n)-th smallest timed
    latency (type-1 lower quantile — deterministic integers, so the
    DuckDB oracle matches bit-for-bit; the rank is computed in integer
    arithmetic, (n*p + 99) div 100, never float ceil). approx
    percentile sketches are the wrong contract for an oracle-gated
    engine; this is the exact path, and it still scales: the per-tool
    rank is ``twophase.positions`` grouped by tool, never a per-tool
    global sort. Ties rank arbitrarily but the VALUE at any tie rank is
    identical, so the output is deterministic."""
    pcts = []
    for q in qs:
        p = int(round(q * 100))
        if abs(q * 100 - p) > 1e-9:
            raise ValueError(f"qs must be whole percents, got {q}")
        pcts.append(p)
    timed = (
        turns.select("tool", tool_latency().alias("_lat"))
        .filter(F.col("tool").isNotNull() & F.col("_lat").isNotNull())
    )
    ranked = twophase.positions(
        timed, ["_lat"], group_cols=["tool"], n_parts=n_parts
    )
    # every row carries its tool's count (_total), so each row checks
    # itself against the per-percentile target ranks
    targets = F.explode(F.array(*[
        F.struct(
            F.lit(p).alias("q_pct"),
            F.expr(f"CAST((_total * {p} + 99) DIV 100 AS LONG)").alias("_r"),
        )
        for p in pcts
    ])).alias("_t")
    return (
        ranked.select("tool", "_lat", "_pos", "_total", targets)
        .filter(F.col("_pos") == F.col("_t._r"))
        .select(
            "tool", F.col("_t.q_pct").alias("q_pct"),
            F.col("_total").alias("n_timed"),
            F.col("_lat").cast("long").alias("latency_us"),
        )
    )


def tool_latency_histogram_state(turns: DataFrame) -> DataFrame:
    """(tool, bucket_lo, n): per-tool latency counts in power-of-2
    microsecond buckets (the doc_length_histogram idiom; zero/negative
    latencies land in bucket_lo 0) — the BOUNDED-state percentile path
    next to the exact ranking pass: ~64 rows per tool, additive under
    ``merge_tool_latency_histograms``, so day-2 ingest and dashboards
    track latency drift without ever re-ranking history. One partial+
    final hash aggregate; map-side combine collapses everything before
    the shuffle."""
    timed = turns.select("tool", tool_latency().alias("lat_us")).filter(
        F.col("tool").isNotNull() & F.col("lat_us").isNotNull()
    )
    return histogram_from_latencies(timed)


def latency_bucket_lo(col: str = "lat_us"):
    """Power-of-2 bucket floor for a microsecond latency column:
    integer-exact highest-set-bit (1 << (bits-1)) — never the float
    log2/pow/floor chain, whose 1-ulp engine differences can straddle
    a bucket boundary (repo determinism gotcha). Zero/negative
    latencies land in bucket_lo 0."""
    return (
        F.when(F.col(col) <= 0, F.lit(0))
        .otherwise(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), length(bin({col})) - 1)")
        )
        .cast("long")
    )


def histogram_from_latencies(lats: DataFrame) -> DataFrame:
    """(tool, bucket_lo, n) from already-extracted (tool, lat_us) rows —
    the shared aggregation tail of the batch path above and the
    streaming ingest (streaming/latency.py), so both bucket with the
    same integer-exact expression."""
    return (
        lats.select("tool", latency_bucket_lo("lat_us").alias("bucket_lo"))
        .groupBy("tool", "bucket_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def merge_tool_latency_histograms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Additive merge of two latency-histogram states
    (``twophase.sum_by``)."""
    return twophase.sum_by(a.unionByName(b), ["tool", "bucket_lo"])


def latency_percentiles_from_histogram(
    state: DataFrame, qs: tuple[float, ...] = (0.5, 0.95)
) -> DataFrame:
    """(tool, q_pct, n_timed, bucket_lo): the power-of-2 bucket
    containing the type-1 quantile rank — same integer rank formula as
    the exact path ((n*p + 99) div 100), resolved against cumulative
    bucket counts, so the answer is a deterministic LOWER BOUND within
    2x of the exact percentile (the documented histogram resolution).
    Deterministic integers on both engines -> fully oracle-able even
    though it approximates the exact path. The cumulative window runs
    over <=64 buckets per tool — trivially parallel per tool, state
    bounded regardless of call volume."""
    cum = state.select(
        "tool", "bucket_lo", "n",
        F.sum("n").over(
            Window.partitionBy("tool").orderBy("bucket_lo")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
        F.sum("n").over(Window.partitionBy("tool")).alias("n_timed"),
    )
    pcts = []
    for q in qs:
        p = int(round(q * 100))
        if abs(q * 100 - p) > 1e-9:
            raise ValueError(f"qs must be whole percents, got {q}")
        pcts.append(p)
    q_rows = cum.select(
        "tool", "bucket_lo", "_cum", "n_timed",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(p).alias("q_pct"),
                    F.expr(f"CAST((n_timed * {p} + 99) DIV 100 AS LONG)")
                    .alias("_r"),
                )
                for p in pcts
            ])
        ).alias("_t"),
    ).select(
        "tool", "bucket_lo", "_cum", "n_timed",
        F.col("_t.q_pct").alias("q_pct"), F.col("_t._r").alias("_r"),
    )
    # the FIRST bucket whose cumulative count reaches the rank
    hit = q_rows.filter(F.col("_cum") >= F.col("_r"))
    w_first = Window.partitionBy("tool", "q_pct").orderBy("bucket_lo")
    return (
        hit.withColumn("_rn", F.row_number().over(w_first))
        .filter(F.col("_rn") == 1)
        .select("tool", "q_pct", "n_timed", "bucket_lo")
    )
