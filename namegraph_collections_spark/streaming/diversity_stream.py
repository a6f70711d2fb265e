"""The embeddings source of the streaming maintainers: new embedding
files feed ``run_maintenance_stream`` (streaming/__init__.py) with the
diversity or IVF state (``DIVERSITY_STATE``, ``IVF_STATE``), so an
ingest pipeline watches its clusters' redundancy drift and an ANN
index's sufficient statistics without rescanning the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def read_embeddings_stream(spark: SparkSession, emb_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(emb_dir)
    )
