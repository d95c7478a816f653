"""egp_crn_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the StatCan/egp-crn workload (snap-to-network matching,
segmentation, topology validation, conflation, tiling, incremental deltas)
as DataFrame-first PySpark operators over tables of image+caption rows
georeferenced by phash-derived coordinates.

NOT a port: the reference (/root/reference, geopandas/shapely single-node
pipeline) defines WHAT to compute; this package expresses it Spark-first —
declarative Column expressions wherever possible (Morton/Z-order cell index
is pure bit arithmetic, JVM-side), Arrow-batched pandas UDFs only for exact
geometric refinement that Catalyst cannot express.
"""

from egp_crn_spark import zipimport_lazy

__version__ = "0.1.0"

# Python workers import this package when they unpickle any engine kernel;
# from then on their per-task import-cache invalidation stops re-reading
# every zip on the path (see zipimport_lazy).
zipimport_lazy.install()
