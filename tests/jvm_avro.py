"""Shared test helper: write and read Avro container files with the JVM's
own Avro library (``org.apache.avro.file.DataFileWriter`` /
``DataFileReader`` on Spark's classpath), an implementation independent
of the program's codec.

Records cross py4j as JSON text, one call per record each way: the
writer decodes Avro's JSON encoding into a ``GenericRecord``, the reader
parses ``GenericRecord.toString()``. Per-field py4j calls are about a
hundred times slower.
"""

from __future__ import annotations

import json


def jvm_write(spark, path: str, schema_json: str, records: list[dict],
              codec: str = "deflate", sync_interval: int = 2048) -> None:
    """Write ``records`` (Avro JSON-encoding dicts) to a container file
    with ``codec`` (``deflate`` or ``null``) and ``sync_interval``."""
    jvm = spark.sparkContext._jvm
    avro = jvm.org.apache.avro
    schema = avro.Schema.Parser().parse(schema_json)
    datum_reader = avro.generic.GenericDatumReader(schema)
    decoders = avro.io.DecoderFactory.get()
    codecs = avro.file.CodecFactory
    writer = avro.file.DataFileWriter(avro.generic.GenericDatumWriter(schema))
    writer.setCodec(codecs.deflateCodec(6) if codec == "deflate" else codecs.nullCodec())
    writer.setSyncInterval(sync_interval)
    writer.create(schema, jvm.java.io.File(path))
    try:
        for rec in records:
            writer.append(datum_reader.read(None, decoders.jsonDecoder(schema, json.dumps(rec))))
    finally:
        writer.close()


def jvm_read(spark, path: str) -> list[dict]:
    """Every record of the container file at ``path``, in file order."""
    jvm = spark.sparkContext._jvm
    avro = jvm.org.apache.avro
    reader = avro.file.DataFileReader(jvm.java.io.File(path), avro.generic.GenericDatumReader())
    try:
        out = []
        while reader.hasNext():
            out.append(json.loads(reader.next().toString()))
        return out
    finally:
        reader.close()
