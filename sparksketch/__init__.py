"""sparksketch — a PySpark-native distributed sketch / approximate-aggregation
library (Bloom simple/sparse/counting/layered/stable, HLL, count-min, KLL,
t-digest, bottom-k, MinHash) built from scratch over the DataFrame API with
vectorized Arrow/pandas UDFs.

Capability surface modeled on Claudenw/BloomFilters (see SURVEY.md); the
execution design is Spark-first: JVM-side xxhash64 hashing, per-partition
vectorized sketch builds via mapInPandas, associative byte-canonical merges
of the partial sketches (an Arrow collect folded on the driver, with
``groupBy(pid // fanout)`` fold rounds first past ``collect_max``), grouped
aggregation with a map-side combine that bounds a hot group to one partial
sketch per input partition, and one Arrow fold of sketch rows per group
(``agg.fold_sketch_runs``)."""

from .shape import Shape, StableShape  # noqa: F401
from . import sketches  # noqa: F401

__version__ = "0.1.0"
