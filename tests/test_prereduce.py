"""Pre-reduced crossing (agg.py REDUCE contract) and USED_BATCH_COLS pruning.

The round-5 structural fix: idempotent/additive sketches may be built
from a JVM-side pre-aggregation of their key hashes — one row per
distinct key tuple (+ raw multiplicity) crosses the Arrow boundary
instead of every raw row — with BYTE-IDENTICAL results.  Value sketches
stop crossing the hash column their update never reads.
"""
from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparksketch.agg import (BloomSpec, CMSSpec, HLLSpec, KLLSpec,
                             LayeredBloomSpec, MinHashSpec, MixKeyBloomSpec,
                             TDigestSpec, build_partials_multi,
                             grouped_sketch, tree_aggregate_multi)
from sparksketch.shape import Shape
from sparksketch.sketches import sketch_from_bytes


@pytest.fixture(scope="module")
def skewed(spark):
    """Rows with heavy key repetition, NULLs, and several partitions."""
    df = (spark.range(0, 60_000, 1, 8)
          .select((F.col("id") % 500).cast("string").alias("k"),
                  F.when(F.col("id") % 3 == 0,
                         F.concat(F.lit("t"),
                                  (F.col("id") % 7).cast("string")))
                  .alias("tool"),
                  (F.col("id") % 97).cast("double").alias("v")))
    df = df.cache()
    df.count()
    return df


def _specs():
    shape = Shape.from_np(1 << 12, 1e-4)
    return {
        "bloom": (BloomSpec(shape), ["k"]),
        "mix": (MixKeyBloomSpec(shape), ["k", "tool"]),
        "hll": (HLLSpec(p=12), ["k"]),
        "cms": (CMSSpec(w=1 << 10, d=4), ["tool"]),
        "minhash": (MinHashSpec(n_perm=64), ["k"]),
    }


def test_prereduce_byte_identity(spark, skewed):
    """Distinct/weighted reduction produces byte-identical sketches to the
    raw path, for every reducible kind, across different partitionings."""
    specs = _specs()
    direct = tree_aggregate_multi(
        build_partials_multi(skewed, specs), list(specs), est_parts=8)
    for parts in (1, 8):
        d = skewed.repartition(parts)
        reduced = tree_aggregate_multi(
            build_partials_multi(d, specs, prereduce=True),
            list(specs), est_parts=4)
        for n in specs:
            assert reduced[n] == direct[n], f"{n} differs at {parts} parts"


def test_prereduce_weighted_cms_counts(spark, skewed):
    """CMS built from the reduced stream answers point queries with the
    exact same counts as the raw path (cells are sums)."""
    specs = {"cms": (CMSSpec(w=1 << 10, d=4), ["tool"])}
    blob = tree_aggregate_multi(
        build_partials_multi(skewed, specs, prereduce=True),
        ["cms"], est_parts=4)["cms"]
    cms = sketch_from_bytes(blob)
    # total weight = raw row count (NULL tools hash like any other key)
    assert cms.total() == skewed.count()


def test_prereduce_rejects_unreducible(spark, skewed):
    for spec in (KLLSpec(k=64, col="v"),
                 TDigestSpec(compression=50.0, col="v"),
                 LayeredBloomSpec(Shape.from_np(100, 0.01),
                                  layer_col="v")):
        with pytest.raises(ValueError, match="not pre-reducible"):
            build_partials_multi(skewed,
                                 {"x": (spec, ["k"])}, prereduce=True)


def test_grouped_prereduce_byte_identity(spark, skewed):
    """A grouped build with ``prereduce=True`` gives the bytes and raw row
    counts of the raw grouped build, for every kind whose REDUCE is set;
    a REDUCE=None spec still raises."""
    from sparksketch.agg import (SketchSpec, _grouped_partials,
                                 regroup_sketch_rows)
    specs = _specs()
    reducible = {c for c in SketchSpec.__subclasses__() if c.REDUCE}
    assert {type(s) for s, _ in specs.values()} == reducible

    def merged(prereduce):
        parts = _grouped_partials(skewed, ["tool"], specs, prereduce)
        pdf = regroup_sketch_rows(parts, ["tool"], order_cols=["_pid"],
                                  sketches=list(specs)).toPandas()
        return {r["tool"]: (r["rows"], *(bytes(r[n]) for n in specs))
                for _, r in pdf.iterrows()}

    raw, reduced = merged(False), merged(True)
    assert len(raw) == 8  # 7 tools and NULL
    assert reduced == raw
    assert sum(v[0] for v in raw.values()) == skewed.count()
    with pytest.raises(ValueError, match="not pre-reducible"):
        _grouped_partials(skewed, ["tool"],
                          {"kll": (KLLSpec(k=64, col="v"), ["k"])}, True)


def test_prereduce_rows_account_raw_rows(spark, skewed):
    """Partials record RAW rows processed, not crossed (reduced) rows."""
    specs = {"hll": (HLLSpec(p=12), ["k"])}
    partials = build_partials_multi(skewed, specs, prereduce=True)
    pdf = partials.toPandas()
    assert int(pdf["rows"].sum()) == skewed.count()


def _crossing_cols(df) -> list[str]:
    """The columns entering the plan's one MapInPandas, read from its
    formatted explain."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    (cols,) = re.findall(r"^\(\d+\) MapInPandas\nInput \[\d+\]: \[(.*)\]$",
                         buf.getvalue(), re.M)
    return [re.sub(r"#\d+L?$", "", c) for c in cols.split(", ")]


def test_kll_crossing_prunes_unused_hash(spark, skewed):
    """KLL/TDigest builds cross only their value column — the h1 the base
    class would emit never crosses the Arrow boundary."""
    for name, spec in (("kll", KLLSpec(k=64, col="v")),
                       ("td", TDigestSpec(col="v"))):
        built = build_partials_multi(skewed, {name: (spec, ["k"])})
        assert _crossing_cols(built) == [f"{name}__value"]
    # and the sketch built through the pruned crossing is still correct
    specs = {"kll": (KLLSpec(k=512, col="v"), ["k"])}
    blob = tree_aggregate_multi(build_partials_multi(skewed, specs),
                                ["kll"], est_parts=8)["kll"]
    kll = sketch_from_bytes(blob)
    assert kll.n == skewed.count()
    assert abs(kll.quantile(0.5) - 48.0) <= 3.0  # v = id % 97


def test_sketch_dataframe_multi_auto_split(spark, skewed):
    """prereduce=True routes reducible specs through the reduced crossing
    and value sketches through the raw path — results identical to the
    all-raw build for every kind."""
    from sparksketch.agg import sketch_dataframe_multi
    specs = dict(_specs())
    specs["kll"] = (KLLSpec(k=256, col="v"), ["k"])
    a = sketch_dataframe_multi(skewed, specs)
    b = sketch_dataframe_multi(skewed, specs, prereduce=True)
    for n in ("bloom", "mix", "hll", "cms", "minhash"):
        assert a[n].to_bytes() == b[n].to_bytes(), n
    assert b["kll"].n == skewed.count()


def test_grouped_hot_key_folds_partials_only(spark, skewed):
    """A hot key needs no salt: grouped_sketch combines map-side, so the
    rows entering its fold are at most partitions x groups, while the
    NULL tool alone carries two thirds of the raw rows."""
    from perfbench.sparkstats import SparkStats
    raw = skewed.count()
    parts = skewed.rdd.getNumPartitions()
    groups = skewed.select("tool").distinct().count()
    sc = spark.sparkContext
    sc.setJobGroup("grouped-hot-key", "grouped_sketch on a hot key")
    try:
        rows = grouped_sketch(skewed, ["tool"], HLLSpec(p=12),
                              ["k"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    stats = SparkStats(spark).group("grouped-hot-key")
    # two Python operators: the partial build reads every raw row, the
    # fold reads only the partial rows
    assert stats["py_ops"] == 2
    folded = stats["py_rows_in"] - raw
    assert 0 < folded <= parts * groups
    assert {r.tool: r.rows for r in rows}[None] == raw - raw // 3
    assert sum(r.rows for r in rows) == raw
