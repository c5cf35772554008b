"""ORC sink: the one module that decides how OSM ORC is written and stamped.

Reference behavior reproduced:
- Every file goes through one writer with block padding disabled
  (standalone/OsmPbf2Orc.java:85, OsmChangesetXml2Orc.java:71) and zlib,
  the orc-core default compression the reference shipped.
- ORC user metadata 'osm.schema.version=0.6' (OsmPbf2Orc.java:90) and
  'bounds' = "left, bottom, right, top" when the PBF header has a bbox
  (OsmPbf2Orc.java:122-125), stored in the footer of every part file,
  where ``OrcFile.createReader``, Athena and
  ``pyarrow.orc.ORCFile(f).metadata`` read it.  Spark's DataFrameWriter
  has no user-metadata API, so after the write ``embed_user_metadata``
  appends the items to each part file's footer through the Hadoop
  FileSystem; stores without truncate/append (S3A) get a JVM batch-copy
  rewrite instead.

Sorted layout: the reference left 'Sort.Type_then_ID' as commented-out
intent (OsmPbf2Orc.java:93-94); sortWithinPartitions('type','id') is the
cheap Spark realization — it tightens ORC stripe min/max stats so
type/id predicates prune stripes at read time, with no global shuffle.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OSM_SCHEMA_VERSION = "0.6"


def _parse_postscript(ps: bytes) -> tuple[int, int, tuple[int, int]]:
    """Walk the PostScript protobuf: returns (footerLength, compression,
    span-of-the-footerLength-field) — the span is [key_start, value_end)
    so the caller can SPLICE a replacement in place, keeping the magic
    field last (strict readers require the postscript to end with
    'ORC'; relying on protobuf last-value-wins after the magic broke
    that — r8 advice)."""
    footer_len = None
    compression = 0
    f1_span: tuple[int, int] | None = None
    pos = 0
    while pos < len(ps):
        key_start = pos
        key = 0
        shift = 0
        while True:
            b = ps[pos]
            pos += 1
            key |= (b & 0x7F) << shift
            if b < 0x80:
                break
            shift += 7
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v = 0
            shift = 0
            while True:
                b = ps[pos]
                pos += 1
                v |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            if fno == 1:
                footer_len = v
                f1_span = (key_start, pos)
            elif fno == 2:
                compression = v
        elif wt == 2:
            ln = 0
            shift = 0
            while True:
                b = ps[pos]
                pos += 1
                ln |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            pos += ln
        elif wt == 1:
            pos += 8
        elif wt == 5:
            pos += 4
        else:  # pragma: no cover — malformed postscript
            raise ValueError(f"unsupported postscript wire type {wt}")
    if footer_len is None or f1_span is None:  # pragma: no cover
        raise ValueError("postscript has no footerLength")
    return footer_len, compression, f1_span


def _tail_appendix(ps: bytes, metadata: dict[str, str]) -> tuple[bytes, bytes]:
    """Build (footer appendix bytes, replacement postscript bytes) for a
    metadata tail append.  The new footerLength varint is spliced at the
    ORIGINAL field-1 position — every other postscript byte, including
    the trailing magic, is preserved in place."""
    from osm2orc_spark.sources.pbf_codec import _emit_bytes, _emit_varint

    footer_len, compression, f1_span = _parse_postscript(ps)
    appendix = bytearray()
    for k, v in metadata.items():
        item = bytearray()
        _emit_bytes(item, 1, k.encode("utf-8"))  # UserMetadataItem.name
        _emit_bytes(item, 2, v.encode("utf-8"))  # UserMetadataItem.value
        _emit_bytes(appendix, 5, bytes(item))  # Footer.metadata (repeated)
    if compression == 0:  # NONE: footer is raw protobuf
        extra = bytes(appendix)
    else:  # chunked stream: one "original" chunk (low header bit set)
        extra = ((len(appendix) << 1) | 1).to_bytes(3, "little") + bytes(appendix)
    repl = bytearray()
    _emit_varint(repl, 1, footer_len + len(extra))
    new_ps = bytes(ps[: f1_span[0]]) + bytes(repl) + bytes(ps[f1_span[1] :])
    if len(new_ps) > 255:  # pragma: no cover — psLen is a single byte
        raise ValueError("postscript overflow")
    return extra, new_ps


def append_user_metadata_tail_fs(spark: SparkSession, file_path, metadata: dict[str, str]) -> None:
    """Stamp ORC user metadata into ONE part file by rewriting only the
    file TAIL through the Hadoop ``FileSystem`` API — O(footer bytes),
    not O(file): no row batch is ever decoded or re-encoded.

    Layout of an ORC file tail (ORC spec v1):
      [stripes...][stripe-stats "metadata"][footer][postscript][psLen:1B]
    A serialized protobuf message followed by more serialized fields of
    the same message type decodes as one message with those fields
    appended.  Footer's ``metadata`` (field 5) is a repeated
    UserMetadataItem, so appending encoded items to the footer byte
    stream ADDS metadata entries without parsing the footer: unknown or
    future Footer fields are preserved byte-for-byte.  The postscript's
    ``footerLength`` is then replaced in place, keeping the trailing
    'ORC' magic last, as strict readers require.

    Compressed footers (ZLIB/SNAPPY/ZSTD postscript kinds) are streams of
    3-byte-header chunks; a chunk with the low header bit set is stored
    "original" (uncompressed), and mixing original chunks into a
    compressed stream is spec-valid — the appendix rides in one original
    chunk, so no codec is needed.

    The file is ranged-read at its tail, then ``truncate`` + ``append``
    rewrite the last few hundred bytes.  Works on any FS implementing
    truncate/append (HDFS, raw local, MapR, Ozone); filesystems without
    them (S3A) raise ``UnsupportedOperationException``.  Reference
    parity: the resulting reader view (``OrcFile.createReader
    .getMetadataKeys``) is identical to the reference's writer-time
    ``addUserMetadata`` (OsmPbf2Orc.java:90,122-125) — asserted against
    the JVM reader AND the batch-copy rewrite in tests/test_osm_ingest.py.

    ``file_path`` may be a string URI or a resolved ``hadoop.fs.Path``.
    """
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(file_path) if isinstance(file_path, str) else file_path
    fs = p.getFileSystem(conf)
    # ChecksumFileSystem (scheme "file") neither appends nor keeps its
    # ".<name>.crc" sidecars valid under tail rewrites — unwrap to the raw
    # FS (object stores / HDFS have no checksum wrapper and no getRaw
    # method) and drop the now-stale sidecar; readers simply skip crc
    # verification when it's absent.
    try:
        crc = fs.getChecksumFile(p)
        fs = fs.getRawFileSystem()
        if fs.exists(crc):
            fs.delete(crc, False)
    except Exception:
        pass
    size = fs.getFileStatus(p).getLen()
    inp = fs.open(p)
    try:
        # seek + readNBytes: byte[] RETURN values cross py4j as one
        # Python bytes object (array-proxy fills do not round-trip
        # reliably), and readNBytes guarantees the full count short of
        # EOF.
        inp.seek(size - 1)
        ps_len = bytes(inp.readNBytes(1))[0]
        inp.seek(size - 1 - ps_len)
        ps = bytes(inp.readNBytes(ps_len))
    finally:
        inp.close()
    extra, new_ps = _tail_appendix(ps, metadata)
    new_len = size - 1 - ps_len
    if not fs.truncate(p, new_len):
        # HDFS may complete a truncate asynchronously (block recovery);
        # the contract is to wait until the visible length settles.
        for _ in range(600):
            if fs.getFileStatus(p).getLen() == new_len:
                break
            time.sleep(0.1)
        else:  # pragma: no cover — recovery stuck
            raise IOError(f"truncate of {p} did not complete")
    out = fs.append(p)
    try:
        out.write(bytearray(extra + new_ps + bytes([len(new_ps)])))
    finally:
        out.close()


def _rewrite_with_metadata(spark: SparkSession, p, metadata: dict[str, str]) -> None:
    """O(file) fallback for stores without truncate/append: stream the
    row batches of part file ``p`` through Spark's bundled
    ``org.apache.orc`` writer (schema and compression preserved), re-add
    any existing user metadata, add ``metadata``, then swap the copy in
    through the Hadoop FileSystem."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    OrcFile = jvm.org.apache.orc.OrcFile
    fs = p.getFileSystem(conf)
    reader = OrcFile.createReader(p, OrcFile.readerOptions(conf))
    tmp = jvm.org.apache.hadoop.fs.Path(p.getParent(), f".{p.getName()}.meta.tmp")
    wopts = (
        OrcFile.writerOptions(conf)
        .setSchema(reader.getSchema())
        .compress(reader.getCompressionKind())
        .blockPadding(False)
        .overwrite(True)
    )
    writer = OrcFile.createWriter(tmp, wopts)
    rows = reader.rows()
    # 64k-row batches: the copy loop crosses py4j twice per batch, so
    # the default 1024-row batch paid ~350 gateway round-trips per
    # bench file set — measured 1.07s of the warm e2e wall; 64k cuts
    # the crossings ~64x (JVM-side memory: one batch per column set)
    batch = reader.getSchema().createRowBatch(65536)
    while rows.nextBatch(batch):
        writer.addRowBatch(batch)
    rows.close()
    for k in reader.getMetadataKeys():
        writer.addUserMetadata(k, reader.getMetadataValue(k))
    for k, v in metadata.items():
        writer.addUserMetadata(
            k, jvm.java.nio.ByteBuffer.wrap(bytearray(v.encode("utf-8")))
        )
    writer.close()
    reader.close()
    fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(f"rename {tmp} -> {p} failed")


def _part_files(spark: SparkSession, path: str) -> list:
    """The ``*.orc`` part files under ``path`` as ``hadoop.fs.Path``s,
    resolved and listed through the Hadoop FileSystem the same way
    Spark's writer resolves ``path`` (relative, ``file:``, ``hdfs:``,
    ``s3a:`` alike)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jdir = spark._jvm.org.apache.hadoop.fs.Path(path)
    return [
        st.getPath()
        for st in jdir.getFileSystem(conf).listStatus(jdir)
        if st.getPath().getName().endswith(".orc")
        and not st.getPath().getName().startswith((".", "_"))
    ]


def embed_user_metadata(spark: SparkSession, path: str, metadata: dict[str, str]) -> None:
    """Stamp ORC *user metadata* into every ``*.orc`` part file under
    ``path``, matching the reference's ``writer.addUserMetadata`` calls
    (OsmPbf2Orc.java:90,122-125).  The footer is the only metadata store.

    Each part file takes the O(footer-bytes) tail append
    (``append_user_metadata_tail_fs``).  The first file is a probe: a
    filesystem without truncate/append (S3A raises
    ``UnsupportedOperationException`` before touching data) sends every
    file to the batch-copy rewrite instead — never a mixed, half-stamped
    state.  Files are independent, so either path runs over one
    driver-side thread pool: py4j gives each Python thread its own
    gateway connection and the I/O happens in concurrent JVM threads.
    """
    parts = _part_files(spark, path)
    if not parts:
        return
    stamp = append_user_metadata_tail_fs
    try:
        stamp(spark, parts[0], metadata)
        parts = parts[1:]
    except Exception as e:  # py4j wraps UnsupportedOperationException
        if "UnsupportedOperation" not in str(e):
            raise
        stamp = _rewrite_with_metadata
    with ThreadPoolExecutor(16) as ex:
        # list() propagates the first worker exception to the caller
        list(ex.map(lambda p: stamp(spark, p, metadata), parts))


def read_user_metadata(spark: SparkSession, path: str) -> dict[str, str]:
    """Read ORC user metadata back through the JVM ``OrcFile.createReader``
    API (the way Athena/orc-tools see it) from the first part file."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    OrcFile = jvm.org.apache.orc.OrcFile
    utf8 = jvm.java.nio.charset.StandardCharsets.UTF_8
    for p in _part_files(spark, path)[:1]:
        reader = OrcFile.createReader(p, OrcFile.readerOptions(conf))
        try:
            return {
                k: utf8.decode(reader.getMetadataValue(k)).toString()
                for k in reader.getMetadataKeys()
            }
        finally:
            reader.close()
    return {}


def write_orc(
    df: DataFrame,
    path: str,
    bounds: tuple[float, float, float, float] | None = None,
    embed_metadata: bool = True,
) -> None:
    """Write an OSM DataFrame as ORC with the reference's writer settings:
    overwrite, block padding off, zlib (kept for byte-comparable parity
    with the reference's output), rows sorted on (type, id) within each
    part file when both columns exist, and the schema-version (+ bounds)
    user metadata stamped into every footer.  ``embed_metadata=False``
    skips the stamp so the encode and the stamp can be timed apart.
    """
    if {"type", "id"} <= set(df.columns):
        df = df.sortWithinPartitions("type", "id")
    (
        df.write.mode("overwrite")
        .format("orc")
        .option("orc.block.padding", "false")
        .option("compression", "zlib")
        .save(path)
    )
    if embed_metadata:
        metadata = {"osm.schema.version": OSM_SCHEMA_VERSION}
        if bounds is not None:
            # Reference format: "left, bottom, right, top" (OsmPbf2Orc.java:124).
            metadata["bounds"] = ", ".join(str(v) for v in bounds)
        embed_user_metadata(df.sparkSession, path, metadata)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    fmt: str = "orc",
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned layout: one directory per partition value, rows
    sorted within files on ``sort_cols``.

    The 100 TB layout recipe: partition on the coarse pruning key (date,
    region), sort within partitions on the fine one (id, type) so scans
    prune whole directories via PartitionFilters and then skip stripes
    via min/max stats. ``repartition(partition_cols)`` before the write
    keeps one task per partition directory -> no small-file explosion
    (N_tasks x N_partitions files otherwise).
    """
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    (
        out.write.mode(mode)
        .format(fmt)
        .partitionBy(*partition_cols)
        .option("orc.block.padding", "false")
        .save(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
