"""Changeset XML source: ``<osm><changeset ...><tag k v/>...</osm>`` files
-> DataFrame with CHANGESET_SCHEMA.

Reference behavior being reproduced (not ported): SAX push-parse with an
element-processor stack (standalone/OsmChangesetXml2Orc.java:92-94,
parser/ChangesetXmlHandler.java:42-82, parser/ChangesetElementProcessor
.java:27-74). Spark-first design: one task per input file
(``binaryFiles``), streaming ``iterparse`` inside the task, raw string
attributes to a typed DataFrame via declarative casts so Catalyst owns
every conversion.

Cell semantics (SURVEY.md §2B):
- bbox decimals parsed from STRING, never through double (B4)
- created_at/closed_at -> NULL on absence or parse failure (B6)
- uid/user nullable — anonymous changesets (B7)
- open = string equality with 'true' (B12)
- tags: possibly-empty map, never NULL (B11)
- id/num_changes/comments_count are required attributes; like the
  reference, a file missing them is malformed (Long.parseLong would
  throw) — we surface None -> nullable column rather than crashing the
  whole job, which is the distributed-friendly choice.

Scale: files are the split unit (XML is not safely splittable);
parallelism = number of input files. Planet-scale changeset dumps ship
as one big .osm.bz2 — split upstream (bzcat | split) or accept one task;
per-task memory is constant (iterparse + element.clear()).
"""

from __future__ import annotations

import bz2
import gzip
import io
from collections.abc import Iterator
from xml.etree.ElementTree import iterparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2orc_spark import transforms as X
from osm2orc_spark.schemas import (
    CHANGESET_DISCUSSION_RAW_SCHEMA,
    CHANGESET_RAW_SCHEMA,
)
from osm2orc_spark.sinks.orc import write_orc


class NotAChangesetFileError(ValueError):
    """Root element is not <osm> (reference ChangesetXmlHandler.java:57)."""


def _open_stream(name: str, data: bytes):
    if name.endswith(".bz2") or data[:3] == b"BZh":
        return io.BytesIO(bz2.decompress(data))
    if name.endswith(".gz") or data[:2] == b"\x1f\x8b":
        return io.BytesIO(gzip.decompress(data))
    return io.BytesIO(data)


def _long(v: str | None) -> int | None:
    try:
        return int(v)  # type: ignore[arg-type]
    except (TypeError, ValueError):
        return None


def parse_changeset_stream(
    name: str, data: bytes, include_discussion: bool = False
) -> Iterator[tuple]:
    """Stream rows (CHANGESET_RAW_SCHEMA order; + ``comments`` when
    ``include_discussion``) from one XML file.

    Discussion shape (the reference's TODO, OsmPbf2Orc.java:193-195;
    the planet changeset dump's actual element layout):
    ``<discussion><comment date uid user><text>..</text></comment>
    </discussion>``.  Comment text is captured at the <text> END event —
    the streaming ``elem.clear()`` wipes child text before the parent
    <comment> closes, so reading it lazily at <comment> would see None.
    Zero-comment changesets get an EMPTY list, never NULL (the tags
    convention, B11)."""
    stream = _open_stream(name, data)
    root_seen = False
    cs_attrs: dict | None = None
    tags: dict[str, str] = {}
    comments: list[dict] = []
    pending_text: str | None = None
    in_comment = False
    for event, elem in iterparse(stream, events=("start", "end")):
        tag = elem.tag.rsplit("}", 1)[-1]
        if event == "start":
            if not root_seen:
                if tag != "osm":
                    raise NotAChangesetFileError(
                        f"{name}: root element <{tag}> is not <osm>"
                    )
                root_seen = True
            elif tag == "changeset":
                cs_attrs = dict(elem.attrib)
                tags = {}
                comments = []
                in_comment = False
                pending_text = None
            elif tag == "comment":
                # reset at comment START (r13 advice): a stray <text>
                # outside any <comment> (malformed input) must not leak
                # into the next comment, possibly in a later changeset
                in_comment = True
                pending_text = None
        else:  # end
            if tag == "tag" and cs_attrs is not None:
                k, v = elem.get("k"), elem.get("v")
                if k is not None:
                    tags[k] = v if v is not None else ""
            elif tag == "text" and cs_attrs is not None and in_comment:
                pending_text = elem.text if elem.text is not None else ""
            elif tag == "comment" and cs_attrs is not None:
                in_comment = False
                if include_discussion:
                    comments.append(
                        {
                            "date": elem.get("date"),
                            "uid": _long(elem.get("uid")),
                            "user": elem.get("user"),
                            "text": pending_text,
                        }
                    )
                pending_text = None
            elif tag == "changeset" and cs_attrs is not None:
                a = cs_attrs
                row = {
                    "id": _long(a.get("id")),
                    "tags": tags,
                    "created_at": a.get("created_at"),
                    "open": a.get("open"),
                    "closed_at": a.get("closed_at"),
                    "comments_count": _long(a.get("comments_count")),
                    "min_lat": a.get("min_lat"),
                    "max_lat": a.get("max_lat"),
                    "min_lon": a.get("min_lon"),
                    "max_lon": a.get("max_lon"),
                    "num_changes": _long(a.get("num_changes")),
                    "uid": _long(a.get("uid")),
                    "user": a.get("user"),
                }
                if include_discussion:
                    row["comments"] = comments
                yield row
                cs_attrs = None
            elem.clear()


def _parse_file_batches(include_discussion: bool = False):
    """mapInArrow worker factory over the binaryFile source: each
    (path, content) row parses to one RecordBatch — whole columnar
    batches to the JVM, no per-row pickling (same Arrow path as
    sources/pbf.py)."""
    raw_schema = (
        CHANGESET_DISCUSSION_RAW_SCHEMA
        if include_discussion
        else CHANGESET_RAW_SCHEMA
    )

    def worker(batches) -> Iterator:
        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(raw_schema)
        for batch in batches:
            for r in batch.to_pylist():
                rows = list(
                    parse_changeset_stream(
                        r["path"], r["content"], include_discussion
                    )
                )
                if rows:
                    yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return worker


def read_changesets(
    spark: SparkSession, path: str, include_discussion: bool = False
) -> DataFrame:
    """Read changeset XML file(s) at ``path`` (glob ok; .xml/.gz/.bz2).

    ``include_discussion`` (opt-in — the reference's TODO surface,
    OsmPbf2Orc.java:193-195) appends ``comments
    ARRAY<STRUCT<date TIMESTAMP, uid BIGINT, user STRING, text STRING>>``;
    the default output schema is unchanged."""
    raw_schema = (
        CHANGESET_DISCUSSION_RAW_SCHEMA
        if include_discussion
        else CHANGESET_RAW_SCHEMA
    )
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    raw = files.mapInArrow(_parse_file_batches(include_discussion), raw_schema)
    return _typed(raw)


def read_changesets_stream(
    spark: SparkSession, dir_path: str, include_discussion: bool = False
) -> DataFrame:
    """Streaming changeset ingestion: XML files landing in ``dir_path``
    are parsed incrementally — the reference's batch pipeline
    (OsmChangesetXml2Orc) as a continuous one. Same parse kernel and
    typed projection as the batch reader; only the source differs
    (binaryFile file-stream, which tracks processed files in the
    checkpoint). Pair with stream_changesets_to_orc for an incremental
    ORC table."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(dir_path)
        .select("path", "content")
    )
    raw_schema = (
        CHANGESET_DISCUSSION_RAW_SCHEMA
        if include_discussion
        else CHANGESET_RAW_SCHEMA
    )
    raw = files.mapInArrow(_parse_file_batches(include_discussion), raw_schema)
    return _typed(raw)


def stream_changesets_to_orc(stream_df: DataFrame, out_path: str, checkpoint: str):
    """foreachBatch ORC sink, exactly-once: each micro-batch overwrites
    its own ``_batch_id=N`` partition directory, so a batch replayed
    after a failure-before-checkpoint overwrites its own partition
    instead of appending duplicates — idempotent without any side ledger
    (foreachBatch itself is only at-least-once; the write must supply
    the idempotence). Each batch goes through ``write_orc``, the same
    writer and footer metadata as the batch CLI. Returns the
    StreamingQuery; callers stop it (or processAllAvailable for bounded
    input). Readers drop the _batch_id partition column (or keep it as
    ingestion lineage)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_orc(batch_df, batch_id, out_path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_batch_orc(batch_df: DataFrame, batch_id: int, out_path: str) -> None:
    """The idempotent per-batch write: replaying (batch_df, batch_id)
    rewrites the same ``_batch_id`` partition, leaving the table
    unchanged. Module-level so tests can replay a batch directly."""
    write_orc(batch_df, f"{out_path}/_batch_id={batch_id}")


def _typed(raw: DataFrame) -> DataFrame:
    cols = [
        F.col("id"),
        F.coalesce("tags", F.map_from_arrays(F.array(), F.array())).alias("tags"),
        X.optional_timestamp(F.col("created_at")).alias("created_at"),
        X.open_flag(F.col("open")).alias("open"),
        X.optional_timestamp(F.col("closed_at")).alias("closed_at"),
        F.col("comments_count"),
        X.bbox_decimal_from_string(F.col("min_lat")).alias("min_lat"),
        X.bbox_decimal_from_string(F.col("max_lat")).alias("max_lat"),
        X.bbox_decimal_from_string(F.col("min_lon"), lon=True).alias("min_lon"),
        X.bbox_decimal_from_string(F.col("max_lon"), lon=True).alias("max_lon"),
        F.col("num_changes"),
        F.col("uid"),
        F.col("user"),
    ]
    if "comments" in raw.columns:
        # nested typed projection: comment dates go through the SAME
        # optional-timestamp cast as created_at/closed_at (B6 semantics
        # element-wise); empty lists stay empty, never NULL (B11)
        cols.append(
            F.transform(
                F.coalesce("comments", F.array()),
                lambda c: F.struct(
                    X.optional_timestamp(c["date"]).alias("date"),
                    c["uid"].alias("uid"),
                    c["user"].alias("user"),
                    c["text"].alias("text"),
                ),
            ).alias("comments")
        )
    return raw.select(*cols)
