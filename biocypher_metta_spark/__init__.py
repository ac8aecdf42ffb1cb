"""biocypher_metta_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference Habush/biocypher-metta pipeline.

Reference semantics (what to compute) are documented per-module with
file:line citations into /root/reference. The execution strategy is
Spark-first: DataFrame/SQL plans optimized by Catalyst, with no Python
worker on any KG path (the liftover is a dimension join, the SwissProt
parse and the float render are Catalyst expressions), and partitioned
parquet (Iceberg-style layout) outputs with per-partition lineage
manifests.
"""

__version__ = "0.1.0"

from biocypher_metta_spark.session import get_spark  # noqa: F401
from biocypher_metta_spark.schema import SchemaRegistry  # noqa: F401
