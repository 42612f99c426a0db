"""Media-table synthesis + salted-join tests."""

import pytest

from bloomjoin_spark.datagen import token_table
from bloomjoin_spark.operators import salted_join, synthesize_media


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return synthesize_media(docs, "doc_id", "text")


class TestMultimodal:
    def test_schema(self, media):
        assert dict(media.dtypes) == {
            "media_id": "bigint",
            "payload": "binary",
            "modality": "string",
            "n_bytes": "int",
            "declared_width": "int",
            "declared_height": "int",
        }


class TestSkew:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        df = token_table(spark, 20_000, vocab=500, max_tok=8, num_partitions=8)
        return df.select("doc_id", "source").persist()

    def test_salted_join_identical_result(self, spark, skewed):
        dim = spark.createDataFrame(
            [(f"source_{i:02d}", f"name{i}") for i in range(20)],
            "source string, src_name string",
        )
        plain = skewed.join(dim, "source", "inner")
        salted = salted_join(skewed, dim, on="source", how="inner", salts=8)
        assert salted.count() == plain.count()
        assert (
            salted.groupBy("source").count().exceptAll(
                plain.groupBy("source").count()
            ).count()
            == 0
        )

    def test_salted_join_rejects_right(self, spark, skewed):
        dim = spark.createDataFrame([("source_00", "x")], "source string, v string")
        with pytest.raises(ValueError):
            salted_join(skewed, dim, on="source", how="right")
