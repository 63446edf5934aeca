"""Synthetic token table: determinism, schema, skew, decodability."""

from pyspark.sql import functions as F

from lumbermill_spark.data.synth import synth_tokens
from lumbermill_spark.functions.tokens import decode_tokens, encode_line


def test_schema_and_rows(spark):
    df = synth_tokens(spark, 1000)
    assert [f.name for f in df.schema.fields] == ["doc_id", "tokens", "n_tok", "source"]
    assert df.schema["tokens"].dataType.simpleString() == "array<int>"
    assert df.count() == 1000


def test_deterministic(spark):
    a = synth_tokens(spark, 500).orderBy("doc_id").collect()
    b = synth_tokens(spark, 500, num_partitions=3).orderBy("doc_id").collect()
    assert a == b  # same rows regardless of partitioning


def test_source_skew(spark):
    dist = dict(
        synth_tokens(spark, 4000).groupBy("source").count().collect()
    )
    frac = {k: v / 4000 for k, v in dist.items()}
    assert 0.5 < frac["apache"] < 0.7
    assert 0.15 < frac["nginx"] < 0.35
    assert frac["syslog"] < 0.2 and frac["unknown"] < 0.12


def test_n_tok_matches(spark):
    bad = synth_tokens(spark, 500).filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_roundtrip_decode(spark):
    df = synth_tokens(spark, 200).withColumn("line", decode_tokens("tokens"))
    # re-encoding the decoded line must give back the tokens exactly
    bad = df.withColumn("re", encode_line("line")).filter(
        F.col("re") != F.col("tokens")).count()
    assert bad == 0
    # lines are printable ASCII
    row = df.select("line").first()
    assert row["line"].isascii() and len(row["line"]) > 10


def test_arrow_decode_sliced_list_and_child():
    # decode_tokens_arrow's per-batch conversion: offsets stay valid
    # whether the list, its child, or both are sliced
    import pyarrow as pa

    from lumbermill_spark.functions.tokens import _tokens_to_utf8

    child = pa.array([0, 0] + list(b"helloworld"), pa.int32()).slice(2)
    lst = pa.ListArray.from_arrays(pa.array([0, 5, None, 10], pa.int32()),
                                   child)
    assert lst.values.offset == 2
    assert _tokens_to_utf8(lst).to_pylist() == ["hello", "world", None]
    assert _tokens_to_utf8(lst.slice(1)).to_pylist() == ["world", None]
