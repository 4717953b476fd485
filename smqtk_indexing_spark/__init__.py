"""smqtk_indexing_spark — a from-scratch PySpark-native near-duplicate
detection + clustering engine with the query capabilities of
Kitware/SMQTK-Indexing (reference surveyed in SURVEY.md), re-expressed as
DataFrame pipelines: vectorized signature UDFs (MinHash/SimHash), LSH band
joins, exact-Jaccard verification, connected-components clustering, and a
CDC/suffix-array substring pass.
"""

from smqtk_indexing_spark.config import DEFAULT_CONFIG, DedupConfig
from smqtk_indexing_spark.session import skip_unchanged_zip_rereads

skip_unchanged_zip_rereads()

__all__ = ["DedupConfig", "DEFAULT_CONFIG"]
__version__ = "0.1.0"
