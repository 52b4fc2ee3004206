"""Aggregations — per-sink pattern frequency and per-conversation rollups.

The reference only implies these (the tag sets ARE the coverage relation,
core/regex_highlighter.py:22-25); the north rule makes them first-class.
All are stock partial+final hash aggregations — the shuffle carries only
(group key, partial count) pairs.

Skew: per-conversation rollups must survive a single conversation with 10^6+
turns. ``conv_rollup_from_turns`` therefore aggregates in two levels — a
salted partial (conv_id, salt=pmod(hash(turn_idx), k)) followed by the
conv-level final — so the hot key is spread over k reducers before the
(tiny) final merge. Spark's map-side partial aggregation already defuses
most count-only skew; the explicit salt guards the case where one
conversation dominates whole partitions (SURVEY.md §7 hard-part #4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def conv_rollup_from_turns(turns: DataFrame, salt: int = DEFAULT_SALT) -> DataFrame:
    """Per-conversation rollup straight from the per-turn sink (one row per
    turn, ``n_spans`` column) — no span fan-out, no DISTINCT: strictly
    cheaper than deriving the same numbers from routed span rows. Salted
    two-level aggregation (module docstring)."""
    salted = turns.withColumn(
        "_salt", F.pmod(F.xxhash64("turn_idx"), F.lit(salt)).cast("int")
    )
    partial = salted.groupBy("conv_id", "_salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.max("turn_idx").alias("pmax"),
        F.min("ts").alias("pfirst"),
        F.max("ts").alias("plast"),
        F.sum("n_spans").alias("pspans"),
        F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0)).alias("pmturns"),
    )
    return partial.groupBy("conv_id").agg(
        F.sum("pn").alias("n_turns"),
        F.max("pmax").alias("max_turn_idx"),
        F.min("pfirst").alias("first_ts"),
        F.max("plast").alias("last_ts"),
        F.sum("pspans").alias("n_spans"),
        F.sum("pmturns").alias("n_matched_turns"),
    )


def sink_pattern_freq_from_turns(turns: DataFrame, bank_dim_df: DataFrame) -> DataFrame:
    """Per-sink pattern frequency from the per-turn sink's spans column:
    n_matches = total spans per pattern, n_turns = turns with >=1 match of
    that pattern — computed with array ops + explode, no DISTINCT (per-turn
    pattern multiplicity is collapsed inside the array, JVM-side)."""
    per_turn = turns.select(
        "conv_id",
        "turn_idx",
        F.explode_outer(
            # [(pattern_id, n_matches_in_turn)] — unmatched turn -> null entry
            F.transform(
                F.array_distinct(F.transform("spans", lambda s: s["pattern_id"])),
                lambda pid: F.struct(
                    pid.alias("pattern_id"),
                    F.size(
                        F.filter("spans", lambda s: s["pattern_id"] == pid)
                    ).alias("n_in_turn"),
                ),
            )
        ).alias("pm"),
    )
    counts = per_turn.groupBy(F.col("pm.pattern_id").alias("pattern_id")).agg(
        F.sum(F.coalesce(F.col("pm.n_in_turn"), F.lit(1))).alias("n_matches"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    dim = bank_dim_df.select("pattern_id", "pattern_name", "sink")
    return (
        counts.join(F.broadcast(dim), "pattern_id", "left")
        .withColumn("sink", F.coalesce(F.col("sink"), F.lit("unmatched")))
        .select("sink", "pattern_id", "pattern_name", "n_matches", "n_turns")
    )
