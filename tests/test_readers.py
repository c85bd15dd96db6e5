from __future__ import annotations

import pytest

from kafka_connect_jsonata_spark.sources.readers import embedding_dim


def test_embedding_dim_empty_table_names_it(spark, tmp_path):
    spark.createDataFrame([], "embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    with pytest.raises(ValueError, match="embeddings table"):
        embedding_dim(spark, str(tmp_path))
