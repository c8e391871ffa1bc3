"""run_ingest: register finished sequencing runs, one run per step.

The generator writes synthetic run directories (SampleSheet v1/v2,
Stats.json, RunInfo.xml, an InterOp dump, small fastq.gz files and an
``RTAComplete.txt`` marker) with planted defects: empty markers,
unfinished runs, a re-delivered run, duplicate barcodes and lanes that
fail the known-barcode gate.  Each step takes the next run that
discovery reports and drives it through

  1. ``streaming.discovery.discover_new_runs``
  2. ``sources.*`` parsers
  3. validation (``validate_samplesheet_rows``, ``duplicate_barcodes``)
  4. ``qc.barcode_qc``
  5. ``plans.demux_pipeline.build_work_units`` / ``register_fastq_outputs``
  6. one ``store.transaction`` committing the seqrun, experiment and run
     rows, with the file rows going through ``streaming.ingest.ingest_batch``

A run whose sheet fails validation is committed as a rejected seqrun
only; a lane whose samples share a barcode pair is left out of
registration.  Every registered run's file batch is delivered twice, as a
restarted stream would, and the second delivery must be skipped.

Set-up registers the first run, which carries every planted defect (a
v1 sheet with a duplicate barcode pair in lane 1 and a QC-failing lane
2, an empty marker and a re-delivered copy), so every run checks each
planted case; the timed steps register the v2 runs that follow.  Every
discovery result is compared with the runs the generator finished and
the client has not registered yet.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os

from pyspark.sql import functions as F

from perfbench import gen

N_RUNS = 24
PLATFORM = "NOVASEQ6000"
STREAM = "run_ingest"

SEQRUN_COLS = (
    "seqrun_id long, seqrun_igf_id string, reject_run string, "
    "flowcell_id string"
)
EXPERIMENT_COLS = (
    "experiment_id long, experiment_igf_id string, library_name string, "
    "library_layout string, status string, platform_name string"
)
RUN_COLS = (
    "run_id long, run_igf_id string, experiment_id long, seqrun_id long, "
    "status string, lane_number string"
)
FILE_COLS = (
    "file_id long, file_path string, location string, status string, "
    "size string"
)


def _mod(name: str):
    return importlib.import_module(f"data_management_python_spark.{name}")


class Workload:
    name = "run_ingest"
    write_kinds = frozenset({"register_run"})
    tables = ("seqrun", "experiment", "run", "file")
    #: a block is one registered run
    block = 1
    cycle_blocks = 1
    #: set for a traced run; stage spans then cover each stage's Spark
    #: jobs too, so a layer's self time includes forcing its lazy frames
    tracer = None

    def __init__(self, seed: int, work: str, smoke: bool = False) -> None:
        self.seed = seed
        self.work = work
        self.root = os.path.join(work, "runs")
        self.specs = gen.make_run_dirs(seed, self.root, 4 if smoke else N_RUNS)
        self.counters = {"runs_found": 0, "replays_skipped": 0}
        self.user_bytes = 0
        self.store = None
        #: discovery results that differ from the planted pending set
        self.discovery_wrong = 0

    # -- set-up --------------------------------------------------------------

    def setup(self, spark) -> None:
        """Empty store, then the first run through the whole path."""
        store_mod = _mod("store")
        self.spark = spark
        self.store = store_mod.TableStore(spark, f"{self.work}/store")
        self.ids = {"seqrun": 0, "experiment": 0, "run": 0, "file": 0}
        self.batch = 0
        self.done: list[dict] = []
        self._register_next()

    # -- traffic -------------------------------------------------------------

    def ops(self):
        """The operation stream: one registered run per operation."""
        while True:
            yield "register_run", self._register_next

    def _pending(self) -> set[tuple[str, str]]:
        """(run id, path) of every finished run directory, re-deliveries
        included, whose id the client has not registered."""
        registered = {d["seqrun_igf_id"] for d in self.done}
        return {
            (s.seqrun_igf_id, os.path.normpath(s.path))
            for s in self.specs
            if s.finished and s.seqrun_igf_id not in registered
        }

    def _register_next(self) -> None:
        spark, store = self.spark, self.store
        discovery = _mod("streaming.discovery")
        samplesheet = _mod("sources.samplesheet")
        stats_json = _mod("sources.stats_json")
        runinfo_xml = _mod("sources.runinfo_xml")
        interop = _mod("sources.interop")
        fastq = _mod("sources.fastq")
        metadata = _mod("validation.metadata")
        barcode_qc = _mod("qc.barcode_qc")
        demux = _mod("plans.demux_pipeline")
        ingest = _mod("streaming.ingest")

        # 1. discovery: finished, not yet registered; oldest id first
        with self._stage("streaming.discovery"):
            pending = discovery.discover_new_runs(
                spark, self.root, store.table("seqrun")
            ).collect()
        found = {(r.seqrun_igf_id, os.path.normpath(r.run_path)) for r in pending}
        self.discovery_wrong += found != self._pending()
        if not pending:
            raise RuntimeError("no finished run left to register")
        self.counters["runs_found"] += len({r.seqrun_igf_id for r in pending})
        run_id = min(r.seqrun_igf_id for r in pending)
        path = min(r.run_path for r in pending if r.seqrun_igf_id == run_id)

        # 2. parse
        with self._stage("sources"):
            sheet = samplesheet.read_samplesheet(
                spark, os.path.join(path, "SampleSheet.csv")
            )
            stats = stats_json.read_demux_stats(
                spark, os.path.join(path, "Stats.json")
            )
            run_df, reads_df = runinfo_xml.read_runinfo(
                spark, os.path.join(path, "RunInfo.xml")
            )
            tiles = len(
                interop.read_interop_dump(
                    spark, os.path.join(path, "interop_dump.txt")
                )["Tile"].collect()
            )
            info = run_df.first()
            mask = runinfo_xml.bases_mask(reads_df, [8, 8])

        # 3. validation: an invalid sheet rejects the run; a lane whose
        # samples share a barcode pair cannot be demultiplexed and is
        # left out of registration
        with self._stage("validation"):
            invalid = samplesheet.validate_samplesheet_rows(sheet).collect()
            dups = metadata.duplicate_barcodes(sheet).collect()
        laned = "Lane" in sheet.columns
        dup_lanes = sorted({int(r.Lane) if laned else 1 for r in dups})
        rejected = bool(invalid) or (bool(dups) and not laned)

        # 4. barcode QC
        with self._stage("qc"):
            lanes = {
                int(r.lane): bool(r.qc_pass)
                for r in barcode_qc.barcode_qc(stats)["lane_report"]
                .select("lane", "qc_pass")
                .collect()
            }

        # 5. demux work units + fastq registration
        registered = []
        if not rejected:
            with self._stage("plans.demux_pipeline"):
                if dup_lanes:
                    sheet = sheet.filter(
                        ~F.col("Lane").isin([str(x) for x in dup_lanes])
                    )
                series = "HISEQ4000" if laned else "MISEQ"
                units = demux.build_work_units(sheet, platform_series=series)
                fq_dir = os.path.join(path, "fastq")
                files = fastq.list_fastq_files(spark, fq_dir)
                r1 = sorted(
                    os.path.join(fq_dir, f)
                    for f in os.listdir(fq_dir) if "_R1_" in f
                )
                counts = fastq.count_fastq_reads_many(spark, r1)
                registered = demux.register_fastq_outputs(
                    units, files, counts, platform_model=PLATFORM,
                    flowcell_id=info.flowcell,
                ).collect()

        # 6. one transaction for the seqrun and its rows
        seqrun_id = self._next("seqrun")
        exp_rows, run_rows, file_rows = [], [], []
        exp_ids: dict[str, int] = {}
        for r in registered:
            if r.experiment_igf_id not in exp_ids:
                exp_ids[r.experiment_igf_id] = self._next("experiment")
                exp_rows.append(
                    (
                        exp_ids[r.experiment_igf_id], r.experiment_igf_id,
                        r.Sample_ID, r.library_layout, "ACTIVE", PLATFORM,
                    )
                )
            run_rows.append(
                (
                    self._next("run"), r.run_igf_id,
                    exp_ids[r.experiment_igf_id], seqrun_id, "ACTIVE",
                    str(int(r.lane_number)),
                )
            )
            for p in (r.R1, r.R2):
                if p:
                    file_rows.append(
                        (
                            self._next("file"), p, "UNKNOWN", "ACTIVE",
                            str(os.path.getsize(p)),
                        )
                    )
        mk = spark.createDataFrame
        self.batch += 1
        with store.transaction():
            store.store_records(
                "seqrun",
                mk(
                    [(seqrun_id, run_id, "Y" if rejected else "N", info.flowcell)],
                    SEQRUN_COLS,
                ),
            )
            if registered:
                store.store_records("experiment", mk(exp_rows, EXPERIMENT_COLS))
                store.store_records("run", mk(run_rows, RUN_COLS))
                ingest.ingest_batch(
                    store, "file", mk(file_rows, FILE_COLS), self.batch, STREAM
                )
        if registered:
            # at-least-once delivery: the same file batch arrives again,
            # as after a stream restart, and must be skipped
            if not ingest.ingest_batch(
                store, "file", mk(file_rows, FILE_COLS), self.batch, STREAM
            ):
                self.counters["replays_skipped"] += 1
        self.user_bytes += len(
            json.dumps(
                [exp_rows, run_rows, file_rows, run_id], separators=(",", ":")
            )
        )
        self.done.append(
            {
                "seqrun_igf_id": run_id,
                "rejected": rejected,
                "dup_lanes": dup_lanes,
                "failed_lanes": sorted(k for k, ok in lanes.items() if not ok),
                "units": len(registered),
                "mask": mask,
                "tiles": tiles,
            }
        )

    def _next(self, table: str) -> int:
        self.ids[table] += 1
        return self.ids[table]

    # -- checks --------------------------------------------------------------

    def check(self) -> int:
        """Runs whose registration disagrees with what the generator
        planted (a rejection, the excluded and the gate-failing lanes,
        the units registered), discovery results that differ from the
        planted pending runs, plus one per table whose row count is off
        or that holds a duplicate run id or file path."""
        store = self.store
        planted = {
            s.seqrun_igf_id: s for s in self.specs if s.redelivery_of is None
        }
        wrong = self.discovery_wrong
        want_exp = want_run = want_file = 0
        for d in self.done:
            spec = planted.get(d["seqrun_igf_id"])
            if spec is None or not spec.finished:
                wrong += 1
                continue
            units = spec.registrable
            wrong += (
                d["rejected"]
                or d["dup_lanes"] != spec.dup_lanes
                or d["failed_lanes"] != spec.failed_lanes
                or d["units"] != units
                or d["mask"] != "Y151,I8,I8,Y151"
                or d["tiles"] != 2 * spec.n_lanes
            )
            want_exp += units
            want_run += units
            want_file += 2 * units
        seqruns = store.table("seqrun").select("seqrun_igf_id").collect()
        ids = [r.seqrun_igf_id for r in seqruns]
        wrong += len(ids) != len(self.done) or len(set(ids)) != len(ids)
        wrong += store.table("experiment").count() != want_exp
        wrong += store.table("run").count() != want_run
        files = store.table("file").select("file_path").collect()
        paths = {r.file_path for r in files}
        wrong += len(files) != want_file or len(paths) != len(files)
        return wrong

    def _stage(self, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer)
