"""proj_4_spark — a PySpark-native cartographic transform + spatial-join engine.

Re-expresses the computational semantics of PROJ (reference: kbevers/proj.4,
PROJ 8.0, at /root/reference) as vectorized NumPy kernels wrapped in
pandas/Arrow UDFs, plus a Spark-native spatial layer (cell index,
point-in-polygon broadcast join, cell-partitioned kNN, raster-tile
assignment) and large-scale training-data pipeline operators
(dedup, similarity search, text analysis).

Architecture (SURVEY.md §7):
  kernels/  pure NumPy — importable and testable without Spark
  engine/   proj-string parser, pipeline planner, Spark UDF wrappers
  spatial/  cell index / PIP / kNN / tiles / skew salting
  docs/     interleaved text+media document synthesis + media_ref codec
  functions/ text analysis, dedup, similarity
"""

__version__ = "0.4.0"

from proj_4_spark.engine import worker as _worker

if _worker.in_spark_task():
    _worker.install()

from proj_4_spark.engine.altops import (  # noqa: F401
    AltOperation,
    Candidate,
)
from proj_4_spark.engine.plan import (  # noqa: F401
    create_crs_to_crs,
    create_operation,
)
from proj_4_spark.kernels.geodesic import (  # noqa: F401
    geodesic_polygon_area,
    geodesic_polyline_length,
)
