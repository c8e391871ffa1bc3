"""registry_lookup: adaptor-API traffic against a preloaded, bucketed
TableStore.

One client thread, one ``TableStore``.  A seeded registry (project ->
sample -> experiment -> run, plus ``sample_attribute`` EAV rows) is
preloaded; the client then sends blocks of nine calls: eight reads in a
seeded order, then one write.  Reads are ``fetch_by``/``exists`` on
natural keys drawn with Zipf skew, a multi-key IN fetch and
``attributes_of``; the write is, in turn, a status ``upsert``, a small
``store_records`` append and ``store_with_attributes``.  Reads draw
from the live key set: every read kind also asks now and then for the
newest appended sample or run.

Every read result is kept and compared after the timed phase with a
client-side model of the store, replayed in the same order as the
calls; then the whole sample, run and attribute state is read back and
compared with the model, appended rows included.
"""

from __future__ import annotations

import itertools
import json
import random
from collections import Counter

from perfbench import gen

# Registry size and key skew.  Nothing in the repository gives a
# facility's registry size or access skew, so these are placeholders:
# 1,000 samples, 2,000 runs and Zipf(1.1) over the natural keys.  See
# perfbench/README.md before changing them.
N_PROJECTS = 40
SAMPLES_PER_PROJECT = 25
N_BUCKETS = 8
BLOCK_READS = (
    "fetch_by", "fetch_by", "fetch_by", "exists", "exists", "exists",
    "fetch_in", "attributes_of",
)
WRITES = ("upsert", "store_records", "store_with_attributes")
#: share of reads that ask for the newest appended key instead
NEWEST = 0.125


class Workload:
    name = "registry_lookup"
    write_kinds = frozenset(WRITES)
    tables = ("project", "sample", "experiment", "run", "sample_attribute")
    #: a block is eight reads and one write; three blocks cover every
    #: write kind
    block = len(BLOCK_READS) + 1
    cycle_blocks = len(WRITES)
    tracer = None

    def __init__(self, seed: int, work: str, smoke: bool = False) -> None:
        self.seed = seed
        self.work = work
        n_proj = 4 if smoke else N_PROJECTS
        per = 5 if smoke else SAMPLES_PER_PROJECT
        self.registry = reg = gen.make_registry(seed, n_proj, per)
        self.rng = random.Random(seed * 7919 + 1)
        self.hot_sample = gen.zipf_sampler(self.rng, len(reg.samples))
        self.hot_run = gen.zipf_sampler(self.rng, len(reg.runs))
        self.next_sample_id = len(reg.samples)
        self.next_run_id = len(reg.runs)
        #: appended rows, newest last
        self.new_samples: list[tuple] = []
        self.new_runs: list[tuple] = []
        self.store = None
        self.log: list[tuple[str, tuple, object]] = []
        #: bytes of the rows the client submitted in writes (compact JSON)
        self.user_bytes = 0
        self.counters: dict[str, int] = {}

    # -- set-up --------------------------------------------------------------

    def setup(self, spark) -> None:
        """Bucketed layout, preload, then one call of each kind."""
        from data_management_python_spark.store import TableStore  # noqa: PLC0415

        reg = self.registry
        store = TableStore(
            spark, f"{self.work}/store", attr_n_buckets=N_BUCKETS
        )
        for table, key in (
            ("project", "project_igf_id"), ("sample", "sample_igf_id"),
            ("experiment", "experiment_igf_id"), ("run", "run_igf_id"),
        ):
            store.enable_partitioning(table, [key], N_BUCKETS)
        mk = spark.createDataFrame
        store.store_records("project", mk(reg.projects, gen.PROJECT_COLS))
        store.store_with_attributes(
            "sample", mk(reg.samples, gen.SAMPLE_COLS), "sample_id"
        )
        store.store_records(
            "experiment", mk(reg.experiments, gen.EXPERIMENT_COLS)
        )
        store.store_records("run", mk(reg.runs, gen.RUN_COLS))
        self.store = store
        self.spark = spark
        # warm-up: one call of every kind, checked like the timed ones;
        # the appends leave a newest sample and run for the reads
        for kind in WRITES[1:] + tuple(dict.fromkeys(BLOCK_READS)) + WRITES[:1]:
            self._op(kind)()

    # -- traffic -------------------------------------------------------------

    def ops(self):
        """The operation stream: blocks of the eight reads in a seeded
        order, each followed by the next write kind in turn."""
        for b in itertools.count():
            reads = list(BLOCK_READS)
            self.rng.shuffle(reads)
            for kind in reads + [WRITES[b % len(WRITES)]]:
                yield kind, self._op(kind)

    def _sample_key(self) -> tuple:
        """A live sample row: the newest appended one now and then,
        else a Zipf-hot preloaded one."""
        if self.new_samples and self.rng.random() < NEWEST:
            return self.new_samples[-1]
        return self.registry.samples[self.hot_sample()]

    def _op(self, kind: str):
        reg, store, spark = self.registry, self.store, self.spark
        if kind == "fetch_by":
            key = self._sample_key()[1]
            args = (key,)

            def call():
                rows = store.fetch_by("sample", sample_igf_id=key).collect()
                return sorted((r.sample_id, r.project_id, r.status) for r in rows)
        elif kind == "exists":
            # one probe in eight asks for a key that was never stored
            if self.rng.random() < 0.125:
                key = f"IGFS{900000 + self.rng.randrange(1000):06d}"
            else:
                key = self._sample_key()[1]
            args = (key,)

            def call():
                return store.exists("sample", sample_igf_id=key)
        elif kind == "fetch_in":
            keys = {reg.runs[self.hot_run()][1] for _ in range(5)}
            if self.new_runs:
                keys.add(self.new_runs[-1][1])
            keys = sorted(keys)
            args = (tuple(keys),)

            def call():
                rows = store.fetch_by("run", run_igf_id=keys).collect()
                return sorted((r.run_igf_id, r.run_id, r.status) for r in rows)
        elif kind == "attributes_of":
            ids = sorted({self._sample_key()[0] for _ in range(3)})
            args = (tuple(ids),)

            def call():
                parents = spark.createDataFrame(
                    [(i,) for i in ids], "sample_id long"
                )
                rows = store.attributes_of(
                    "sample", parents, attribute_names=list(gen.SAMPLE_ATTRS)
                ).collect()
                return sorted(
                    (r.sample_id, *(r[a] for a in gen.SAMPLE_ATTRS))
                    for r in rows
                )
        elif kind == "upsert":
            key = self._sample_key()[1]
            status = self.rng.choice(gen.SAMPLE_STATUSES)
            args = (key, status)

            def call():
                store.upsert(
                    "sample",
                    spark.createDataFrame(
                        [(key, status)], "sample_igf_id string, status string"
                    ),
                    on=["sample_igf_id"],
                    update_columns=["status"],
                )
        elif kind == "store_records":
            exp = self.rng.randrange(len(reg.experiments))
            rows = []
            for lane in (3, 4):
                rows.append(
                    (
                        self.next_run_id,
                        f"{reg.experiments[exp][1]}_FCX{self.next_run_id}_{lane}",
                        exp, None, "ACTIVE", str(lane),
                    )
                )
                self.next_run_id += 1
            args = (tuple(rows),)

            def call():
                store.store_records("run", spark.createDataFrame(rows, gen.RUN_COLS))
                self.new_runs.extend(rows)
        else:  # store_with_attributes
            project = self.rng.randrange(len(reg.projects))
            rows = []
            for _ in range(2):
                sid = self.next_sample_id
                self.next_sample_id += 1
                rows.append(
                    (
                        sid, f"IGFS{sid:06d}", project, "ACTIVE",
                        self.rng.choice(gen.SPECIES),
                        self.rng.choice(gen.TISSUES),
                        self.rng.choice(gen.KITS),
                    )
                )
            args = (tuple(rows),)

            def call():
                store.store_with_attributes(
                    "sample", spark.createDataFrame(rows, gen.SAMPLE_COLS),
                    "sample_id",
                )
                self.new_samples.extend(rows)

        def logged():
            out = call()
            self.log.append((kind, args, out))
            if kind in WRITES:
                self.user_bytes += len(json.dumps(args, separators=(",", ":")))
            return out

        return logged

    # -- checks --------------------------------------------------------------

    def check(self) -> int:
        """Replay the call log against a model of the store, then read
        the final state back.  Returns the number of reads whose result
        differs from the model, plus the number of sample, run and
        attribute rows that are missing from the store or differ from
        the model."""
        reg, store = self.registry, self.store
        samples = {s[1]: list(s) for s in reg.samples}
        runs = {r[1]: r for r in reg.runs}
        wrong = 0
        for kind, args, out in self.log:
            if kind == "fetch_by":
                s = samples.get(args[0])
                want = [(s[0], s[2], s[3])] if s else []
                wrong += out != want
            elif kind == "exists":
                wrong += out != (args[0] in samples)
            elif kind == "fetch_in":
                want = sorted(
                    (k, runs[k][0], runs[k][4]) for k in args[0] if k in runs
                )
                wrong += out != want
            elif kind == "attributes_of":
                by_id = {s[0]: s for s in samples.values()}
                want = sorted(
                    (i, *by_id[i][4:7]) for i in args[0] if i in by_id
                )
                wrong += out != want
            elif kind == "upsert":
                samples[args[0]][3] = args[1]
            elif kind == "store_records":
                for r in args[0]:
                    runs[r[1]] = r
            else:
                for s in args[0]:
                    samples[s[1]] = list(s)

        def diff(got, want) -> int:
            got, want = Counter(got), Counter(want)
            return sum(((got - want) + (want - got)).values())

        wrong += diff(
            (tuple(r) for r in store.table("sample").select(
                "sample_id", "sample_igf_id", "project_id", "status"
            ).collect()),
            (tuple(s[:4]) for s in samples.values()),
        )
        wrong += diff(
            (tuple(r) for r in store.table("run").select(
                "run_id", "run_igf_id", "experiment_id", "seqrun_id",
                "status", "lane_number",
            ).collect()),
            runs.values(),
        )
        attrs = store.attributes_of(
            "sample", store.table("sample").select("sample_id"),
            attribute_names=list(gen.SAMPLE_ATTRS),
        ).collect()
        wrong += diff(
            ((r.sample_id, *(r[a] for a in gen.SAMPLE_ATTRS)) for r in attrs),
            ((s[0], *s[4:7]) for s in samples.values()),
        )
        return wrong
