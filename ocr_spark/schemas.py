"""Fixed schemas — declared once, never inferred (inference at 10^12 rows is
a correctness and planning hazard)."""

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

MEDIA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("png", T.BinaryType()),
    ]
)

OUTPUT_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ord", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)

MANIFEST = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("doc_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("media_count", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("committed_at", T.StringType()),
        T.StructField("buckets", T.IntegerType(), False),
    ]
)
