"""The OSM workload: transcode a planet-history PBF and a changeset XML
file to ORC, then run the README's SQL over the ORC just written."""

from __future__ import annotations

import glob
import os

import pandas as pd

from common import Tracer, report, rollup
from inputs import osm_inputs
from workloads import README_SQL, SNAPSHOT, WAYS_REASSEMBLY

PROBES = 3  # decode and noop-sink walls per leg: best of three


def orc_layout(path: str) -> dict[str, int]:
    """Part files, stripes and bytes of the ORC output under ``path``."""
    import pyarrow.orc as orc

    files = sorted(glob.glob(os.path.join(path, "*.orc")))
    return {
        "files": len(files),
        "stripes": sum(orc.ORCFile(f).nstripes for f in files),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def _shape(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def result_digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """Row count and an order-insensitive hash of a collected result."""
    pdf = pdf[sorted(pdf.columns)]
    hashes = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return len(pdf), int(hashes.sum(dtype="uint64"))


class OsmPipeline:
    """One run: the PBF leg (read_pbf -> write_orc with bounds), the
    changeset leg (read_changesets -> write_orc), then read_orc on both
    outputs and the README queries, each result collected."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.inp = osm_inputs(ctx.seed, ctx.size)
        self.out = {leg: os.path.join(ctx.run_dir, f"{leg}.orc") for leg in ("pbf", "xml")}
        self.results: dict[str, pd.DataFrame] = {}

    def setup(self, spark) -> None:
        """Priming runs the workload twice: after one run the JIT is
        still warming, and the next run reads about 20% slower."""
        self.spark = spark
        for _ in range(2):
            self.run_once()

    def _open(self, outs: dict[str, str]) -> None:
        from osm2orc_spark.sinks.orc import read_orc

        read_orc(self.spark, outs["pbf"]).createOrReplaceTempView("history")
        read_orc(self.spark, outs["xml"]).createOrReplaceTempView("changesets")

    def _queries(self, history: str, changesets: str):
        """(name, build) pairs; ways_reassembly is the package's spelling."""
        from osm2orc_spark.queries.osm_corpus import osm_ways_reassembly

        spark = self.spark
        yield "ways_reassembly", lambda: osm_ways_reassembly(
            spark, "", planet=spark.sql(SNAPSHOT.format(history=history)))
        for name, sql in README_SQL.items():
            text = sql.format(history=history, changesets=changesets)
            yield name, lambda text=text: spark.sql(text)

    def run_once(self) -> None:
        from osm2orc_spark.sinks.orc import write_orc

        ops = self.ctx.ops
        for leg, (_, read, bounds) in self._sources().items():
            ops(f"{leg}_leg", lambda: write_orc(read(), self.out[leg], bounds=bounds()))
        self._open(self.out)
        for name, build in self._queries("history", "changesets"):
            self.results[name] = ops(name, lambda: build().toPandas())

    def _sources(self):
        from osm2orc_spark.sources.changeset_xml import read_changesets
        from osm2orc_spark.sources.pbf import read_pbf, read_pbf_bounds

        spark, pbf, xml = self.spark, self.inp["pbf"], self.inp["xml"]
        return {
            "pbf": ("sources.pbf", lambda: read_pbf(spark, pbf), lambda: read_pbf_bounds(pbf)),
            "xml": ("sources.changeset_xml", lambda: read_changesets(spark, xml), lambda: None),
        }

    def probe(self, tr: Tracer) -> None:
        """Source probes, run before the traced run and outside its wall:
        per leg, the noop-sink wall of the DataFrame with no columns
        selected (the decode: the source UDF cannot be pruned) and with
        every column, interleaved, best of PROBES each.  Both are one
        stage; ``count()`` would add a shuffle the noop sink does not."""
        ops = self.ctx.ops
        for _ in range(PROBES):
            for leg, (layer, read, _) in self._sources().items():
                with tr.span(f"{layer}|decode"):
                    ops(f"{leg}_decode", lambda: _noop(read().select()))
                with tr.span(f"{layer}|rows"):
                    ops(f"{leg}_rows", lambda: _noop(read()))

    def trace(self, tr: Tracer) -> None:
        """The operations of one untimed run, each call in its own span:
        ``write_orc`` is split into the encode and the metadata embed it
        is made of."""
        self._trace_transcode(tr)
        self._trace_queries(tr)

    def _trace_transcode(self, tr: Tracer) -> None:
        from osm2orc_spark.sinks.orc import OSM_SCHEMA_VERSION, embed_user_metadata, write_orc

        spark, ops = self.spark, self.ctx.ops
        self.traced_out = {}
        for leg, (_, read, bounds) in self._sources().items():
            out = self.traced_out[leg] = os.path.join(self.ctx.run_dir, f"traced_{leg}.orc")
            b = bounds()
            with tr.span(f"sinks.orc|encode_{leg}"):
                ops(f"{leg}_leg", lambda: write_orc(read(), out, bounds=b, embed_metadata=False))
            meta = {"osm.schema.version": OSM_SCHEMA_VERSION}
            if b is not None:
                meta["bounds"] = ", ".join(str(v) for v in b)
            with tr.span(f"sinks.orc|embed_{leg}"):
                ops(f"{leg}_embed", embed_user_metadata, spark, out, meta)

    def _trace_queries(self, tr: Tracer) -> None:
        with tr.span("sinks.orc|read_orc"):
            self._open(self.traced_out)
        self.rows_out = 0
        for name, build in self._queries("history", "changesets"):
            self.ctx.ops(name, self._traced_query, tr, name, build)

    def _traced_query(self, tr: Tracer, name: str, build) -> None:
        layer = "queries.osm_corpus" if name == "ways_reassembly" else "readme"
        with tr.span(f"{layer}|{name}|build"):
            df = build()
        with tr.span(f"{layer}|{name}|exec"):
            self.rows_out += len(df.toPandas())

    def layer_values(self, tr: Tracer) -> dict[str, float]:
        """Per-layer values from the spans and from the ORC the traced
        run wrote; computed after the traced run's wall is taken."""
        from osm2orc_spark.sources.pbf_codec import scan_blob_index

        best = tr.best
        layout = [orc_layout(p) for p in self.traced_out.values()]
        entities, changesets = sum(self.inp["types"].values()), self.inp["changesets"]
        return {
            "sources.pbf.decode_s": best("sources.pbf|decode"),
            "sources.pbf.rows_s": best("sources.pbf|rows") - best("sources.pbf|decode"),
            "sources.pbf_codec.blobs":
                sum(r.kind == "OSMData" for r in scan_blob_index(self.inp["pbf"])),
            "sources.pbf.entities_per_s":
                entities / (best("sinks.orc|encode_pbf") + best("sinks.orc|embed_pbf")),
            "sources.changeset_xml.parse_s": best("sources.changeset_xml|decode"),
            "sources.changeset_xml.changesets_per_s":
                changesets / (best("sinks.orc|encode_xml") + best("sinks.orc|embed_xml")),
            "sinks.orc.encode_s": (
                best("sinks.orc|encode_pbf") - best("sources.pbf|rows")
                + best("sinks.orc|encode_xml") - best("sources.changeset_xml|rows")
            ),
            "sinks.orc.embed_metadata_s": best("sinks.orc|embed_pbf") + best("sinks.orc|embed_xml"),
            "sinks.orc.files": sum(x["files"] for x in layout),
            "sinks.orc.stripes": sum(x["stripes"] for x in layout),
            "sinks.orc.bytes": sum(x["bytes"] for x in layout),
            "sinks.orc.bytes_per_row": sum(x["bytes"] for x in layout) / (entities + changesets),
            "sinks.orc.read_orc_s": best("sinks.orc|read_orc"),
            "queries.osm_corpus.build_s": best("queries.osm_corpus|ways_reassembly|build"),
        }

    def layer_counts(self, groups) -> dict[str, float]:
        scan = rollup(groups, lambda g: g.endswith("|exec"))
        return {
            "sources.pbf.tasks":
                rollup(groups, lambda g: g == "sources.pbf|decode")["tasks"] / PROBES,
            "sources.changeset_xml.tasks":
                rollup(groups, lambda g: g == "sources.changeset_xml|decode")["tasks"] / PROBES,
            "sinks.orc.scan_rows": scan["input_rows"],
            "sinks.orc.scan_bytes": scan["input_bytes"],
            "sinks.orc.rows_read_per_row_out": scan["input_rows"] / max(self.rows_out, 1),
        }

    def check(self) -> set[str]:
        return self._check_orc() | self._check_queries()

    def _check_orc(self) -> set[str]:
        """Row counts per type, schemas and user metadata of the last
        run's ORC output."""
        from osm2orc_spark.schemas import CHANGESET_SCHEMA, PLANET_SCHEMA
        from osm2orc_spark.sinks.orc import read_orc, read_user_metadata

        spark, wrong = self.spark, set()
        want = dict(self.inp["types"])
        if self.ctx.break_check:
            want["node"] += 1
        hist = read_orc(spark, self.out["pbf"])
        got = {r["type"]: r["count"] for r in hist.groupBy("type").count().collect()}
        meta = read_user_metadata(spark, self.out["pbf"])
        if (got != want or _shape(hist.schema) != _shape(PLANET_SCHEMA)
                or not {"bounds", "osm.schema.version"} <= set(meta)):
            report("pbf_leg", f"rows {got} want {want}, metadata {meta}")
            wrong.add("pbf_leg")
        cs = read_orc(spark, self.out["xml"])
        n, meta = cs.count(), read_user_metadata(spark, self.out["xml"])
        if (n != self.inp["changesets"] or _shape(cs.schema) != _shape(CHANGESET_SCHEMA)
                or "osm.schema.version" not in meta):
            report("xml_leg", f"rows {n} want {self.inp['changesets']}, metadata {meta}")
            wrong.add("xml_leg")
        return wrong

    def _check_queries(self) -> set[str]:
        """Each README query's row count and order-insensitive hash
        against the same SQL over the DataFrames the sources return,
        before any ORC write.  The ways re-assembly is compared with the
        README text pinned in workloads.py."""
        from osm2orc_spark.sources.changeset_xml import read_changesets
        from osm2orc_spark.sources.pbf import read_pbf

        spark = self.spark
        sources = [read_pbf(spark, self.inp["pbf"]).cache(),
                   read_changesets(spark, self.inp["xml"]).cache()]
        sources[0].createOrReplaceTempView("history_src")
        sources[1].createOrReplaceTempView("changesets_src")
        spark.sql(SNAPSHOT.format(history="history_src")).createOrReplaceTempView("planet_src")
        reference = {"ways_reassembly": WAYS_REASSEMBLY.format(planet="planet_src")}
        for name, sql in README_SQL.items():
            reference[name] = sql.format(history="history_src", changesets="changesets_src")
        wrong = set()
        for i, (name, sql) in enumerate(reference.items()):
            want = result_digest(spark.sql(sql).toPandas())
            if self.ctx.break_check and i == 0:
                want = (want[0] + 1, want[1])
            got = self.results.get(name)
            if got is None or result_digest(got) != want:
                report(name, f"(rows, hash) {got is not None and result_digest(got)} want {want}")
                wrong.add(name)
        for df in sources:
            df.unpersist()
        return wrong
