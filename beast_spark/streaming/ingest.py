"""Ingest pipeline: Kafka-shaped frame → decoded, mapped, metadata-enriched
rows + an invalid-row side channel.

This is the Spark re-expression of the reference's hot path (SURVEY.md
§3.1): ``ConsumerRecordConverter.convert`` →
``RowMapper.map`` → ``addMetadata`` → error routing
(``converter/ConsumerRecordConverter.java:39-105``). One logical plan
covers operators A3–A9:

* A4 null filter (drop or fail, ``ConsumerRecordConverter.java:43-51``)
* A3/A6/A7 proto decode with per-type conversion (pure-Python wire codec
  in an Arrow-native ``mapInArrow`` — the JVM ``from_protobuf`` is used
  instead when the spark-protobuf jar is present)
* A5 column-mapping projection (compiled select, Catalyst-prunable)
* A8 metadata enrichment (five Kafka metadata columns, optional namespace)
* A9 valid/invalid split (DESERIALIZE errors carried as an error column)

Works identically on a batch DataFrame or a streaming one — the plan is
the same; only the source/sink differ.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beast_spark.config import IngestSettings
from beast_spark.plans.mapping import auto_mapping, compile_mapping
from beast_spark.plans.protowire import PField, compile_decoder, decode_message
from beast_spark.plans.schema import METADATA_FIELDS, spark_schema_for

KAFKA_COLUMNS = ("key", "value", "topic", "partition", "offset", "timestamp")


def elide_defaults(col: Column, schema: tuple[PField, ...]) -> Column:
    """Null out proto3 default values in a decoded struct column.

    On the proto3 wire, a scalar equal to its default (0, '', false,
    enum 0) is never serialized, so value==default ⟺ absent. The
    reference therefore emits NULL for these (``RowMapper.java:61``); the
    Python codec matches by omission. The JVM connector materializes the
    defaults instead — this expression rebuilds the struct with defaults
    nulled so both decode paths produce identical frames. Repeated-field
    *elements* are literal on the wire and keep their zeros; an empty
    array means the field was absent → NULL. Pure Column logic (codegen).
    """
    def _elide(c: Column, f: PField) -> Column:
        if f.repeated:
            return F.when(c.isNull() | (F.size(c) == 0), F.lit(None)).otherwise(
                F.transform(c, lambda e: _elide_value(e, f)) if f.type == "message" else c
            )
        return _elide_value(c, f)

    def _elide_value(c: Column, f: PField) -> Column:
        if f.type == "message":
            rebuilt = F.struct(
                *[_elide(c.getField(sub.name), sub).alias(sub.name) for sub in f.fields]
            )
            return F.when(c.isNull(), F.lit(None)).otherwise(rebuilt)
        if f.type == "string":
            return F.nullif(c, F.lit(""))
        if f.type == "bool":
            return F.when(c.isNull() | ~c, F.lit(None)).otherwise(c)
        if f.type == "bytes":
            return F.when(c.isNull() | (F.length(c) == 0), F.lit(None)).otherwise(c)
        if f.type == "enum":
            return F.nullif(c, F.lit(f.enum_name(0)))
        if f.type in ("timestamp", "duration", "struct"):
            return c  # message-typed on the wire: absent is already NULL
        return F.nullif(c, F.lit(0))  # numeric scalars

    return F.when(col.isNull(), F.lit(None)).otherwise(
        F.struct(*[_elide(col.getField(f.name), f).alias(f.name) for f in schema])
    )


def decode_expr_available(spark) -> bool:
    """True when the JVM spark-protobuf connector is on the classpath.

    Must use ``Class.forName`` — attribute access on ``spark._jvm`` yields
    a lazy ``JavaPackage`` and never throws for missing classes."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False


@dataclass
class ProtoIngest:
    """Compiled ingest pipeline for one proto schema + column mapping."""

    schema: tuple[PField, ...]
    mapping: dict | None = None  # None → auto 1:1 (Converter.java:24-45)
    settings: IngestSettings = field(default_factory=IngestSettings)

    def __post_init__(self) -> None:
        if self.mapping is None:
            self.mapping = auto_mapping(self.schema)

    # -- A3: decode ---------------------------------------------------------

    def decoded_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("payload", spark_schema_for(self.schema), True),
                T.StructField("error", T.StringType(), True),
            ]
            + [
                T.StructField("topic", T.StringType(), True),
                T.StructField("partition", T.IntegerType(), True),
                T.StructField("offset", T.LongType(), True),
                T.StructField("timestamp", T.TimestampType(), True),
            ]
        )

    def _decode_map_in_arrow(self, df: DataFrame) -> DataFrame:
        """Arrow-native decode boundary (``mapInArrow``). The earlier
        ``mapInPandas`` form paid a full Arrow→pandas→Arrow round-trip for
        the four passthrough Kafka columns (timestamp cells materialized as
        pandas Timestamps both ways) plus per-row Series iteration —
        measured ~40% of the decode-path plateau. Here the passthrough
        columns are re-emitted ZERO-COPY from the input record batch, the
        value column is extracted once via ``to_pylist`` (C loop, no
        per-row pandas boxing, no ``bytes()`` copy), and the decoded dicts
        go straight into ``pa.array`` with the exact Arrow type Spark
        expects."""
        schema = self.schema
        fail_unknown = self.settings.fail_on_unknown_fields
        out_schema = self.decoded_schema()

        def decode_batches(batches: Iterator) -> Iterator:
            import pyarrow as pa

            from pyspark.sql.pandas.types import to_arrow_type

            # Compile the schema dispatch ONCE per worker, not per value
            # (protowire.compile_decoder) — the Python codec is the 100 TB
            # ingest bottleneck, so the per-row loop stays byte-walking only.
            decode = compile_decoder(schema, fail_unknown)
            payload_t = to_arrow_type(out_schema["payload"].dataType)
            error_t = to_arrow_type(out_schema["error"].dataType)
            for rb in batches:
                payloads, errors = [], []
                for raw in rb.column(rb.schema.get_field_index("value")).to_pylist():
                    if raw is None:
                        payloads.append(None)
                        errors.append("null message")
                        continue
                    try:
                        payloads.append(decode(raw))
                        errors.append(None)
                    except Exception as exc:  # DESERIALIZE error (A9)
                        payloads.append(None)
                        errors.append(f"DESERIALIZE: {exc}")
                cols = {name: rb.column(rb.schema.get_field_index(name)) for name in
                        ("topic", "partition", "offset", "timestamp")}
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(payloads, type=payload_t),
                        pa.array(errors, type=error_t),
                        cols["topic"],
                        cols["partition"],
                        cols["offset"],
                        cols["timestamp"],
                    ],
                    names=["payload", "error", "topic", "partition", "offset", "timestamp"],
                )

        return df.mapInArrow(decode_batches, out_schema)

    def _decode_from_protobuf(self, df: DataFrame) -> DataFrame:
        """JVM-side decode (production path): ``from_protobuf`` with a
        descriptor set generated by ``plans.descriptors`` — whole pipeline
        stays in codegen, no Python workers. The connector materializes
        proto3 defaults (0/''/false) where the wire has nothing;
        ``elide_defaults`` nulls them back out to match the reference's
        absent-field semantics (``RowMapper.java:61``) and the Python
        codec's output exactly.
        """
        from pyspark.sql.protobuf.functions import from_protobuf

        from beast_spark.plans.descriptors import descriptor_set_bytes, full_message_name

        desc = descriptor_set_bytes(self.schema)
        raw = from_protobuf(
            F.col("value"),
            full_message_name(),
            binaryDescriptorSet=desc,
            options={"mode": "PERMISSIVE"},
        )
        return df.select(
            elide_defaults(raw, self.schema).alias("payload"),
            F.when(F.col("value").isNull(), F.lit("null message"))
            .when(raw.isNull(), F.lit("DESERIALIZE: unparseable protobuf"))
            .alias("error"),
            "topic",
            "partition",
            "offset",
            "timestamp",
        )

    def use_jvm_decode(self, spark) -> bool:
        """JVM path eligibility: connector on classpath, every field type
        maps identically, and unknown-field detection not requested —
        ``from_protobuf`` silently skips unknown field numbers, so the
        reference's FAIL_ON_UNKNOWN_FIELDS contract (RowMapper.java:44-49)
        requires the Python codec."""
        from beast_spark.plans.descriptors import jvm_decode_supported

        if self.settings.force_python_decode or self.settings.fail_on_unknown_fields:
            return False
        return jvm_decode_supported(self.schema) and decode_expr_available(spark)

    # -- A8: metadata -------------------------------------------------------

    def _metadata_columns(self) -> list[Column]:
        cols = [
            F.col("partition").cast("int").alias("message_partition"),
            F.col("offset").cast("long").alias("message_offset"),
            F.col("topic").alias("message_topic"),
            F.col("timestamp").alias("message_timestamp"),
            F.current_timestamp().alias("load_time"),
        ]
        ns = self.settings.metadata_namespace
        if ns:
            mapped_names = self._mapped_top_names()
            if ns in mapped_names:
                raise ValueError(f"metadata namespace {ns!r} collides with a mapped column")
            return [F.struct(*cols).alias(ns)]
        mapped_names = self._mapped_top_names()
        dupes = mapped_names & {n for n, _ in METADATA_FIELDS}
        if dupes:
            raise ValueError(f"metadata columns collide with mapped columns: {sorted(dupes)}")
        return cols

    def _mapped_top_names(self) -> set[str]:
        names = set()
        for key, target in self.mapping.items():
            if key == "record_name":
                continue
            names.add(target["record_name"] if isinstance(target, dict) else str(target))
        return names

    # -- assembled pipeline -------------------------------------------------

    def apply(self, df: DataFrame) -> IngestSplit:
        """(valid, invalid): valid = mapped columns + metadata; invalid =
        DLQ shape {key?, topic, partition, offset, timestamp, error}.

        Both frames are projections of one decoded frame, returned on the
        split's ``.decoded``; nothing is persisted here. A micro-batch
        writer persists ``.decoded`` so the sink's writes share one decode.

        ``fail_on_null_message`` / ``fail_on_deserialize_error`` turn the
        respective error classes into hard failures at sink time by
        leaving them in the invalid frame with a ``fatal`` marker — the
        sink raises if any fatal row exists (reference: StatusFailure ⇒
        consumer stops, ``ConsumerRecordConverter.java:43-57``).
        """
        missing = [c for c in KAFKA_COLUMNS if c not in df.columns and c != "key"]
        if missing:
            raise ValueError(f"input frame lacks Kafka columns: {missing}")

        if self.use_jvm_decode(df.sparkSession):
            decoded = self._decode_from_protobuf(df)
        else:
            decoded = self._decode_map_in_arrow(df)
        is_null_err = F.col("error") == "null message"
        fatal = (is_null_err & F.lit(self.settings.fail_on_null_message)) | (
            F.col("error").startswith("DESERIALIZE")
            & F.lit(self.settings.fail_on_deserialize_error)
        )

        invalid = decoded.filter(F.col("error").isNotNull()).select(
            "topic",
            "partition",
            "offset",
            "timestamp",
            "error",
            fatal.alias("fatal"),
        )

        mapped = compile_mapping(self.mapping, self.schema, source_prefix="payload.")
        valid = (
            decoded.filter(F.col("error").isNull())
            .select(*mapped, *self._metadata_columns())
        )
        return IngestSplit(valid, invalid, decoded)


class IngestSplit(tuple):
    """``(valid, invalid)`` that also carries the frame both are projected
    from on ``.decoded``; unpacks as a plain 2-tuple."""

    decoded: DataFrame

    def __new__(cls, valid: DataFrame, invalid: DataFrame, decoded: DataFrame) -> IngestSplit:
        split = super().__new__(cls, (valid, invalid))
        split.decoded = decoded
        return split
