"""report_scan: analytical queries from the engine's query registry.

One client thread runs a fixed sample of registered queries one at a
time, each forced to full evaluation with ``write.format("noop")``,
over a seeded star schema (``gen.make_star``).  The sample is
stratified by the module that defines each query: one query from each
of ``plans.relational``, ``plans.tpch``, ``plans.analytics``,
``plans.cosmx_queries`` and ``llmdata.queries``, and two from
``plans.graph`` that share one ``operators.session_cache`` entry (the
co-purchase edge set), so the second and later family calls are cache
hits.  Set-up makes one warm-up pass over the sample; a block is six
passes, each in a seeded order.  Six passes give each run 42 timed
queries, so a burst of host contention lands on a few of them rather
than on a whole run's figures.

The sample is fixed rather than drawn from the seed: the queries' costs
differ by 5x, so a seeded draw would turn the spread across seeds into
the spread between queries.  The seed sets the data and the order.

After the timed phase each sampled query is collected once and its
result digest compared with the digest of its ``Query.oracle`` run in
DuckDB over the same parquet files.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random

from perfbench import gen

PACKAGE = "data_management_python_spark"
SAMPLE = (
    "j1_readcount_multiway",    # plans.relational
    "q4_priority_exists",       # plans.tpch
    "e_session_stats",          # plans.analytics
    "g_triangle_count",         # plans.graph, co-purchase edge family
    "g_link_prediction",        # plans.graph, co-purchase edge family
    "cosmx_fov_qc_rollup",      # plans.cosmx_queries
    "d_exact_dedup",            # llmdata.queries
)
#: queries that read a shared session_cache entry
FAMILY = frozenset({"g_triangle_count", "g_link_prediction"})
#: passes over the sample in one block of the timed phase
BLOCK_PASSES = 6


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    values canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\t".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\t".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class Workload:
    name = "report_scan"
    write_kinds = frozenset()
    tables = ()
    cycle_blocks = 1
    tracer = None

    def __init__(self, seed: int, work: str, smoke: bool = False) -> None:
        from data_management_python_spark.plans import collect_queries  # noqa: PLC0415

        self.seed = seed
        self.work = work
        #: a block is BLOCK_PASSES passes over the sample (one in a smoke run)
        self.block = len(SAMPLE) * (1 if smoke else BLOCK_PASSES)
        self.data = os.path.join(work, "star")
        gen.make_star(seed, self.data)
        registry = collect_queries()
        self.queries = {n: registry[n] for n in SAMPLE}
        self.rng = random.Random(seed * 104729 + 3)
        self.store = None
        self.user_bytes = 0
        self.counters = {"family_calls": 0}

    def setup(self, spark) -> None:
        """One pass over the sample: first compiles and the shared
        session_cache build."""
        self.spark = spark
        for name in SAMPLE:
            self._op(name)()

    def ops(self):
        """The operation stream: passes over the sample, each in a
        seeded order."""
        while True:
            names = list(SAMPLE)
            self.rng.shuffle(names)
            for name in names:
                yield name, self._op(name)

    def _op(self, name: str):
        q = self.queries[name]
        layer = q.fn.__module__.removeprefix(PACKAGE + ".")

        def call():
            if name in FAMILY:
                self.counters["family_calls"] += 1
            with self._span(layer):
                df = q.fn(self.spark, self.data)
                df.write.format("noop").mode("overwrite").save()

        return call

    def _span(self, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer)

    def check(self) -> int:
        """Sampled queries whose Spark result digest differs from the
        digest of the DuckDB oracle over the same files."""
        import duckdb  # noqa: PLC0415

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            table = f.removesuffix(".parquet")
            path = os.path.join(self.data, f)
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
            )
        wrong = 0
        for name in SAMPLE:
            q = self.queries[name]
            df = q.fn(self.spark, self.data)
            got = digest(df.columns, [tuple(r) for r in df.collect()])
            rel = con.sql(q.oracle)
            want = digest(list(rel.columns), rel.fetchall())
            if got != want:
                print(f"# {name}: result differs from the DuckDB oracle")
                wrong += 1
        con.close()
        return wrong
