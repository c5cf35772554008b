"""Workload definitions, pinned here so that edits to ``bench.py`` or to
``osm2orc_spark/queries/osm_corpus.py`` cannot silently change what the
benchmark measures.
"""

from __future__ import annotations

import os

# Generator sizes per --size.  "bench" is what BENCHMARK.json runs;
# "smoke" is the tiny size the smoke test uses.
SIZES = {
    "bench": {"n_nodes": 30_000, "n_changesets": 12_000},
    "smoke": {"n_nodes": 2_000, "n_changesets": 500},
}

# The corpus tables: a copy of the repository's scale-factor-0.001 test
# tables (TESTDATA.md), kept here so that the benchmark reads only inside
# its checkout.  --seed permutes the query order.
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

# Headline queries (a subset of bench.py HEADLINE, covering every module
# that owns a headline query), with the module each one is registered
# from.  The full list of 36 does not fit the run budget; see README.md.
CORPUS = {
    "q1_pricing_summary": "queries.relational",
    "q5_local_supplier_volume": "queries.relational",
    "asof_join_last_purchase": "queries.advanced",
    "ohlc_hourly_bars": "queries.sequences",
    "dedup_minhash_lsh": "operators.dedup",
    "dedup_ppjoin": "operators.dedup",
    "embedding_near_dup_lsh": "operators.similarity",
    "text_bm25_topk": "operators.text",
    "curation_training_mix": "operators.curation",
    "ann_ivf_probe_prebuilt": "operators.ann_index",
    "ann_knn_join_prebuilt": "operators.ann_index",
}
MODULES = sorted(set(CORPUS.values()))

# README bbox for the ways re-assembly (the fixture-rescaled bbox of the
# README query; the generator's nodes span lon -74.06..-74.03 and lat
# 40.68..40.70, so about a sixth of the nodes fall inside).
BBOX_LON = ("-74.0500000", "-74.0400000")
BBOX_LAT = ("40.6850000", "40.6950000")

# README sample queries (README.md:79-242) in Spark SQL.  {history},
# {changesets} and {planet} are temp-view names.  SNAPSHOT derives the
# latest-version planet from the history table.
SNAPSHOT = """
SELECT h.* FROM {history} h
JOIN (SELECT type, id, MAX(version) AS version FROM {history} GROUP BY type, id) l
  ON h.type = l.type AND h.id = l.id AND h.version = l.version
WHERE h.visible = true
"""

WAYS_REASSEMBLY = f"""
WITH nodes AS (SELECT id, lat, lon FROM {{planet}} WHERE type = 'node'),
ways AS (SELECT id, nds FROM {{planet}} WHERE type = 'way'),
nodes_in_bbox AS (
  SELECT * FROM nodes
  WHERE lon BETWEEN {BBOX_LON[0]} AND {BBOX_LON[1]}
    AND lat BETWEEN {BBOX_LAT[0]} AND {BBOX_LAT[1]}
),
exploded AS (
  SELECT w.id, p.pos + 1 AS idx, p.nd.ref AS ref
  FROM ways w LATERAL VIEW posexplode(w.nds) p AS pos, nd
),
referenced_ways AS (
  SELECT DISTINCT e.id FROM exploded e JOIN nodes_in_bbox b ON b.id = e.ref
),
exploded_ways AS (
  SELECT e.id, e.idx,
         concat_ws(',', CAST(n.lat AS STRING), CAST(n.lon AS STRING)) AS coord
  FROM exploded e
  JOIN referenced_ways r ON r.id = e.id
  JOIN nodes n ON n.id = e.ref
),
ways_in_bbox AS (
  SELECT id,
         concat_ws(';', transform(array_sort(collect_list(struct(idx, coord))),
                                  s -> s.coord)) AS coordinates,
         COUNT(1) AS n_points
  FROM exploded_ways GROUP BY id
)
SELECT id, 'node' AS type,
       concat_ws(',', CAST(lat AS STRING), CAST(lon AS STRING)) AS coordinates,
       CAST(1 AS BIGINT) AS n_points
FROM nodes_in_bbox
UNION ALL
SELECT id, 'way' AS type, coordinates, n_points FROM ways_in_bbox
"""

README_SQL = {
    "latest_versions": """
SELECT planet.id, planet.type, planet.changeset, planet.`timestamp`,
       planet.uid, planet.`user`, planet.version, planet.visible
FROM {history} planet
JOIN (SELECT id, type, MAX(version) AS version FROM {history} GROUP BY type, id) latest
  ON planet.id = latest.id AND planet.version = latest.version
 AND planet.type = latest.type
WHERE planet.visible = true
ORDER BY CASE planet.type WHEN 'node' THEN 1 WHEN 'way' THEN 2
                          WHEN 'relation' THEN 3 ELSE 4 END, planet.id
""",
    "deleted_count": """
WITH latest AS (
  SELECT planet.id, planet.type FROM {history} planet
  JOIN (SELECT id, type, MAX(version) AS version FROM {history} GROUP BY type, id) latest
    ON planet.id = latest.id AND planet.version = latest.version
   AND planet.type = latest.type
  WHERE planet.visible = false
)
SELECT COUNT(*) AS deleted_count FROM latest
""",
    "tag_usage_by_month": """
SELECT date_trunc('MONTH', `timestamp`) AS month, COUNT(*) AS count
FROM {history}
WHERE tags['tracktype'] IS NOT NULL
GROUP BY date_trunc('MONTH', `timestamp`)
ORDER BY month
""",
    "changesets_with_comment": """
SELECT COUNT(*) AS count FROM {changesets} WHERE tags['comment'] IS NOT NULL
""",
    "changesets_josm": """
SELECT COUNT(*) AS count FROM {changesets} WHERE tags['created_by'] LIKE 'JOSM%'
""",
    "changesets_liberty_island": """
SELECT COUNT(id) AS count FROM {changesets}
WHERE min_lon BETWEEN -74.0474545 AND -74.0433990
  AND max_lon BETWEEN -74.0474545 AND -74.0433990
  AND min_lat BETWEEN 40.6884971 AND 40.6911817
  AND max_lat BETWEEN 40.6884971 AND 40.6911817
""",
}
