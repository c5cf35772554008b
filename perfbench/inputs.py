"""Benchmark inputs.  The OSM files are generated once per (seed, size)
into the gitignored work directory; generation is benchmark work and is
never timed.  The corpus tables ship with the benchmark."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

from common import INPUTS
from workloads import CORPUS, SIZES, TABLES_DIR


def _build_once(path: str, build) -> None:
    if os.path.exists(os.path.join(path, "DONE")):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def osm_inputs(seed: int, size: str) -> dict:
    """A planet-history PBF and a changeset XML file, plus the counts the
    generator produced (the expected ORC row counts)."""
    from osm2orc_spark.fixtures import BBOX, changeset_rows, changesets_xml, planet_history_entities
    from osm2orc_spark.sources.pbf_codec import PbfWriter

    n = SIZES[size]["n_nodes"]
    n_cs = SIZES[size]["n_changesets"]
    path = os.path.join(INPUTS, f"osm-{size}-s{seed}")

    def build(out: str) -> None:
        ents = planet_history_entities(seed=seed, n_nodes=n, n_ways=n // 15, n_rels=n // 100)
        w = PbfWriter(bounds=tuple(float(v) for v in BBOX))
        for e in ents:
            w.add(**e)
        w.write(os.path.join(out, "history.osm.pbf"), nodes_per_block=4000)
        with open(os.path.join(out, "changesets.osm.xml"), "w") as f:
            f.write(changesets_xml(changeset_rows(seed=seed, n=n_cs)))
        counts = {"types": dict(Counter(e["type"] for e in ents)), "changesets": n_cs}
        with open(os.path.join(out, "counts.json"), "w") as f:
            json.dump(counts, f)

    _build_once(path, build)
    with open(os.path.join(path, "counts.json")) as f:
        counts = json.load(f)
    return {
        "pbf": os.path.join(path, "history.osm.pbf"),
        "xml": os.path.join(path, "changesets.osm.xml"),
        **counts,
    }


def corpus_tables() -> str:
    """The directory of the corpus tables, after checking every file
    against the digests recorded beside them."""
    with open(os.path.join(TABLES_DIR, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(TABLES_DIR, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    raise RuntimeError(f"{TABLES_DIR}/{name} does not match SHA256SUMS")
    return TABLES_DIR


def corpus_expected(tables_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each corpus query's DuckDB-oracle result over ``tables_dir``,
    normalised by the oracle harness.  Cached in the work directory, keyed
    by the table digests and the oracle SQL."""
    from oracle_harness import _normalize, duck_connection
    from osm2orc_spark.registry import all_queries

    queries = all_queries()
    with open(os.path.join(tables_dir, "SHA256SUMS"), "rb") as f:
        tables_key = hashlib.sha256(f.read()).hexdigest()[:12]
    cache = os.path.join(INPUTS, f"expected-{tables_key}")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    for name in CORPUS:
        sql = queries[name].oracle
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.json")
        if not os.path.exists(path):
            con = con or duck_connection(tables_dir)
            pdf = con.sql(sql).df()
            with open(f"{path}.tmp", "w") as f:
                json.dump({"columns": sorted(pdf.columns), "rows": _normalize(pdf)}, f)
            os.replace(f"{path}.tmp", path)
        with open(path) as f:
            exp = json.load(f)
        out[name] = (exp["columns"], [tuple(r) for r in exp["rows"]])
    if con is not None:
        con.close()
    return out
