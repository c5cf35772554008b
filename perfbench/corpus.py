"""The headline query corpus: each query built through the registry and
collected once per run, in an order permuted by the seed."""

from __future__ import annotations

import random

from common import Tracer, report, rollup
from inputs import corpus_expected, corpus_tables
from workloads import CORPUS, MODULES


class Corpus:
    def __init__(self, ctx):
        from osm2orc_spark.registry import all_queries

        self.ctx = ctx
        self.tables = corpus_tables()
        self.expected = corpus_expected(self.tables)
        self.queries = all_queries()
        self.order = sorted(CORPUS)
        random.Random(ctx.seed).shuffle(self.order)
        self.results: dict = {}

    def setup(self, spark) -> None:
        self.spark = spark
        self.run_once()

    def run_once(self) -> None:
        for name in self.order:
            fn = self.queries[name].fn
            self.results[name] = self.ctx.ops(
                name, lambda fn=fn: fn(self.spark, self.tables).toPandas())

    def probe(self, tr: Tracer) -> None:
        """Nothing to probe outside the traced run."""

    def trace(self, tr: Tracer) -> None:
        jsc = self.spark.sparkContext._jsc
        self.persisted = 0
        for name in self.order:
            self.ctx.ops(name, self._traced_query, tr, name)
            self.persisted = max(self.persisted, jsc.getPersistentRDDs().size())

    def layer_values(self, tr: Tracer) -> dict[str, float]:
        out = {"operators.cache.persisted_after": self.persisted}
        for mod in MODULES:
            for phase in ("build", "plan", "exec"):
                out[f"{mod}.{phase}_s"] = sum(
                    s for g, s in tr.spans if g.startswith(f"{mod}|") and g.endswith(f"|{phase}"))
        return out

    def _traced_query(self, tr: Tracer, name: str) -> None:
        mod = CORPUS[name]
        with tr.span(f"{mod}|{name}|build"):
            df = self.queries[name].fn(self.spark, self.tables)
        with tr.span(f"{mod}|{name}|plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span(f"{mod}|{name}|exec"):
            df.toPandas()

    def layer_counts(self, groups) -> dict[str, float]:
        out = {}
        for mod in MODULES:
            every = rollup(groups, lambda g: g.startswith(f"{mod}|"))
            out[f"{mod}.build_jobs"] = rollup(
                groups, lambda g: g.startswith(f"{mod}|") and g.endswith("|build"))["jobs"]
            out[f"{mod}.shuffle_bytes"] = every["shuffle_bytes"]
            out[f"{mod}.max_task_over_median"] = every["max_task_over_median"]
        return out

    def check(self) -> set[str]:
        """Each query's collected result against its DuckDB oracle,
        normalised cell by cell as the oracle harness does."""
        from oracle_harness import _normalize

        wrong = set()
        for i, name in enumerate(sorted(CORPUS)):
            cols, rows = self.expected[name]
            if self.ctx.break_check and i == 0:
                rows = rows[1:] if rows else [("",)]
            got = self.results.get(name)
            if got is None or sorted(got.columns) != cols or _normalize(got) != rows:
                report(name, f"result differs from the DuckDB oracle ({len(rows)} rows)")
                wrong.add(name)
        return wrong
