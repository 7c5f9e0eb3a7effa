"""Wire-format decode: message bytes/strings -> HFP_RAW_SCHEMA structs.

The reference consumes protobuf `Hfp.Data` messages (Topic + Payload,
MessageProcessor.java:118-119, QueueWriter.java:60,97). On Spark the
decode is a column expression:

- JSON path (fully implemented): `from_json` against the canonical nested
  schema — the one JSON decoder: JSON fixture files (sources/files.py) and
  any JSON-carrying topic both go through `decode_hfp_json`.
- Protobuf path: `from_protobuf` (spark-protobuf module) against the
  compiled descriptor. The connector jar + descriptor set are deployment
  artifacts not present in this container, so the function raises a clear
  error until they are provided; the downstream plan (transform/split) is
  identical either way, which is what the tests pin.

Contract: one decoder per wire format. A message the decoder cannot read
becomes a ``schema_valid = false`` row rather than disappearing, so every
message lands on the valid side or the dead side of ``transform.hfp_split``
exactly once (a NULL ``schema_valid`` counts as invalid there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.schema import HFP_RAW_SCHEMA


def decode_hfp_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Decode a JSON string/bytes column into (schema_valid, topic,
    payload). Undecodable messages yield a NULL struct -> schema_valid
    false -> dead-letter (F1 semantics for malformed wire data)."""
    parsed = F.from_json(F.col(value_col).cast("string"), HFP_RAW_SCHEMA)
    # PERMISSIVE from_json yields an all-NULL struct for garbage input, so
    # validity requires the mandatory sub-structs to be present, plus any
    # explicit schema_valid=false flag (MessageProcessor.java:118)
    ok = (
        parsed.isNotNull()
        & parsed["topic"].isNotNull()
        & parsed["payload"].isNotNull()
        & F.coalesce(parsed["schema_valid"], F.lit(True))
    )
    return df.select(
        ok.alias("schema_valid"),
        parsed["topic"].alias("topic"),
        parsed["payload"].alias("payload"),
    )


def encode_hfp_json(df: DataFrame) -> DataFrame:
    """Inverse (test fixtures / replay): nested rows -> JSON strings."""
    return df.select(
        F.to_json(F.struct("schema_valid", "topic", "payload")).alias("value")
    )


def has_spark_protobuf(spark) -> bool:
    """True when the org.apache.spark:spark-protobuf connector jar is on
    the JVM classpath (a deployment artifact, not bundled with pyspark)."""
    try:
        # NOT ...sql.protobuf.functions: spark-sql bundles that as a stub
        # that raises PROTOBUF_NOT_LOADED at call time; ProtobufUtils only
        # exists when the real connector jar is present
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.utils.ProtobufUtils"
        )
        return True
    except Exception:
        return False


def decode_hfp_protobuf(
    df: DataFrame,
    value_col: str = "value",
    descriptor_path: str | None = None,
    message_name: str = "Data",
) -> DataFrame:
    """Protobuf decode via spark-protobuf (the JVM-side production path,
    MessageProcessor.java:119). The compiled descriptor set ships with
    the package (resources/hfp.desc, built by sources/descriptor.py from
    the same field tables as the pure-Python wire codec); only the
    connector jar remains a deployment artifact — without it this raises
    the documented capability gate."""
    from pyspark.sql import SparkSession

    if descriptor_path is None:
        from transitlog_hfp_sink_spark.sources.descriptor import RESOURCE

        descriptor_path = RESOURCE
    spark = SparkSession.getActiveSession()
    if spark is not None and not has_spark_protobuf(spark):
        raise NotImplementedError(
            "protobuf decode needs the org.apache.spark:spark-protobuf jar "
            "on the classpath (--packages org.apache.spark:spark-protobuf_"
            "2.13:<spark version>). The descriptor set is bundled "
            "(resources/hfp.desc); the protowire/JSON paths exercise the "
            "identical downstream plan without the jar."
        )
    from pyspark.sql.protobuf.functions import from_protobuf

    parsed = from_protobuf(F.col(value_col), message_name, descFilePath=descriptor_path)
    return df.select(
        F.lit(True).alias("schema_valid"),
        parsed["topic"].alias("topic"),
        parsed["payload"].alias("payload"),
    )
