"""Seeded synthetic inputs.  The library only ever sees these DataFrames.

Transcript turns are generated from ``spark.range`` with JVM column
expressions only (no Python UDF), so generation is cheap and exactly
reproducible from ``(seed, id)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

N_TOOLS = 12  # plus NULL for non-tool turns: 13 distinct tool values


def transcripts(spark: SparkSession, rows: int, convs: int, seed: int,
                partitions: int, hot_keys: int = 5,
                hot_fraction: float = 0.01, start: int = 0) -> DataFrame:
    """``(id, conv_id, role, tool)`` turns with ids ``start .. start+rows``.

    ``convs`` conversations share the turns (about ``rows / convs`` turns
    each), except that ``hot_fraction`` of turns land on ``hot_keys``
    conversations (Zipf-hot keys).  A turn depends only on its id and the
    seed, so any id range is the same slice of one endless table."""
    ids = spark.range(start, start + rows, 1, partitions)
    h = F.xxhash64(F.lit(seed), "id")
    h2 = F.xxhash64(F.lit(seed + 1), "id")
    hot = F.pmod(h, F.lit(1_000_000)) < int(hot_fraction * 1_000_000)
    conv = F.when(hot, F.pmod(h2, F.lit(hot_keys))).otherwise(
        F.pmod(h2, F.lit(convs)))
    role_code = F.pmod(h, F.lit(100))
    role = (F.when(role_code < 42, "user")
             .when(role_code < 84, "assistant")
             .when(role_code < 86, "system")
             .otherwise("tool"))
    return ids.select(
        "id",
        F.concat(F.lit("conv-"), F.lpad(conv.cast("string"), 8, "0"))
        .alias("conv_id"),
        role.alias("role"),
        F.when(role == "tool",
               F.concat(F.lit("tool_"),
                        F.pmod(h2, F.lit(N_TOOLS)).cast("string")))
        .otherwise(F.lit(None).cast("string")).alias("tool"),
    )


def probe_sample(turns: DataFrame, seed: int, every: int) -> DataFrame:
    """About one turn in ``every``, chosen by a seeded hash of the turn's
    conversation and tool (so the sample does not depend on partitioning)."""
    return turns.filter(F.pmod(F.xxhash64(F.lit(seed + 3), "conv_id", "tool"),
                               F.lit(every)) == 0)
