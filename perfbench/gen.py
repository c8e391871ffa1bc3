"""Seeded input generators for the workloads.

Every generator takes an explicit seed and writes or returns the same
bytes for the same seed and sizes; nothing reads the clock or the
environment.  The program under test only ever sees what these
functions produce.
"""

from __future__ import annotations

import gzip
import json
import os
import dataclasses
import random
from dataclasses import dataclass, field

SAMPLE_STATUSES = ("ACTIVE", "FAILED", "WITHDRAWN")
SAMPLE_ATTRS = ("species", "tissue", "library_kit")
SPECIES = ("HUMAN", "MOUSE", "ZEBRAFISH", "YEAST")
TISSUES = ("LIVER", "BRAIN", "BLOOD", "SKIN", "LUNG")
KITS = ("TRUSEQ", "NEXTERA", "TENX_V3", "SMARTSEQ")


# --------------------------------------------------------------------------
# registry_lookup: project -> sample -> experiment -> run (+ sample EAV)
# --------------------------------------------------------------------------


@dataclass
class Registry:
    """Row tuples for the preload, in the column order of ``*_COLS``."""

    projects: list[tuple] = field(default_factory=list)
    samples: list[tuple] = field(default_factory=list)
    experiments: list[tuple] = field(default_factory=list)
    runs: list[tuple] = field(default_factory=list)


PROJECT_COLS = (
    "project_id long, project_igf_id string, project_name string, "
    "status string, deliverable string"
)
# wide sample frame: the three attribute columns are melted into
# sample_attribute by store_with_attributes
SAMPLE_COLS = (
    "sample_id long, sample_igf_id string, project_id long, status string, "
    "species string, tissue string, library_kit string"
)
EXPERIMENT_COLS = (
    "experiment_id long, experiment_igf_id string, project_id long, "
    "sample_id long, library_name string, library_layout string, "
    "status string, platform_name string"
)
RUN_COLS = (
    "run_id long, run_igf_id string, experiment_id long, seqrun_id long, "
    "status string, lane_number string"
)


def make_registry(
    seed: int, n_projects: int, samples_per_project: int
) -> Registry:
    """A registry of ``n_projects`` projects, each with
    ``samples_per_project`` samples; one experiment per sample and two
    lane runs per experiment."""
    rng = random.Random(seed)
    reg = Registry()
    sid = eid = rid = 0
    for p in range(n_projects):
        reg.projects.append(
            (p, f"IGFP{p:05d}", f"project {p}", "ACTIVE", "FASTQ")
        )
        for _ in range(samples_per_project):
            reg.samples.append(
                (
                    sid, f"IGFS{sid:06d}", p, "ACTIVE",
                    rng.choice(SPECIES), rng.choice(TISSUES),
                    rng.choice(KITS),
                )
            )
            reg.experiments.append(
                (
                    eid, f"IGFS{sid:06d}_NOVASEQ6000", p, sid, f"LIB{eid:06d}",
                    rng.choice(("SINGLE", "PAIRED")), "ACTIVE", "NOVASEQ6000",
                )
            )
            for lane in (1, 2):
                reg.runs.append(
                    (
                        rid, f"IGFS{sid:06d}_NOVASEQ6000_FC{seed % 1000:03d}_{lane}",
                        eid, None, "ACTIVE", str(lane),
                    )
                )
                rid += 1
            sid += 1
            eid += 1
    return reg


def zipf_sampler(rng: random.Random, n: int, s: float = 1.1):
    """Index sampler over ``range(n)`` with Zipf(s) skew: index 0 is the
    hottest key.  Returns a zero-argument callable."""
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    total = sum(weights)
    cum = []
    acc = 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    import bisect  # noqa: PLC0415

    def draw() -> int:
        return min(bisect.bisect_left(cum, rng.random()), n - 1)

    return draw


# --------------------------------------------------------------------------
# run_ingest: synthetic sequencing-run directories
# --------------------------------------------------------------------------

BASES = "ACGT"


@dataclass
class RunSpec:
    """What the generator planted in one run directory."""

    seqrun_igf_id: str
    path: str
    finished: bool            # has an RTAComplete.txt marker
    empty_marker: bool        # the marker is a zero-byte file
    sheet_version: str        # "v1" or "v2"
    n_lanes: int
    samples: list[tuple[str, str, int]]   # (sample_id, project, lane)
    dup_lanes: list[int]      # lanes where two samples share a barcode pair
    failed_lanes: list[int]   # lanes planted below the known-barcode gate
    redelivery_of: str | None = None   # copy of an already-delivered run

    @property
    def registrable(self) -> int:
        """(sample, lane) units a correct pipeline registers: every
        sample outside a lane with a barcode collision."""
        return sum(lane not in self.dup_lanes for _, _, lane in self.samples)


def _barcode(rng: random.Random, n: int = 8) -> str:
    return "".join(rng.choice(BASES) for _ in range(n))


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(text)


def _fastq_gz(path: str, n_reads: int, rng: random.Random) -> None:
    recs = []
    for i in range(n_reads):
        seq = "".join(rng.choice(BASES) for _ in range(12))
        recs.append(f"@r{i}\n{seq}\n+\n{'F' * 12}\n")
    # mtime=0 keeps the gzip header (and so the bytes) seed-determined
    with open(path, "wb") as raw, gzip.GzipFile(
        fileobj=raw, mode="wb", mtime=0
    ) as fh:
        fh.write("".join(recs).encode())


def make_run_dirs(
    seed: int, root: str, n_runs: int, n_unfinished: int = 2
) -> list[RunSpec]:
    """Write ``n_runs`` finished run directories (plus ``n_unfinished``
    without a marker and one re-delivered copy of the first run under
    a second delivery root) below ``root``.

    Planted cases sit at fixed positions, so every seed plants the same
    mix in the same order (barcodes, read counts and ids follow the
    seed).  Run ``i`` is a two-lane v1 run when ``i % 3 == 0``: its lane
    1 carries two samples on one barcode pair and its lane 2 loses half
    its reads to unknown barcodes, below the 80% known-read gate.  The
    other runs are healthy one-lane v2 runs.  Even-numbered runs have an
    empty marker.  So the first run (registered during set-up) carries
    every defect, is re-delivered and has an empty marker, and the next
    two (the first timed ones) are v2 runs of one shape.
    """
    rng = random.Random(seed)
    specs: list[RunSpec] = []
    for i in range(n_runs + n_unfinished):
        finished = i < n_runs
        fc = f"FC{seed % 10000:04d}{i:03d}"
        day = f"24{i // 28 + 1:02d}{i % 28 + 1:02d}"
        run_id = f"{day}_NB{seed % 900 + 100:03d}_{i + 1:04d}_{fc}"
        path = os.path.join(root, "delivery_a", run_id)
        os.makedirs(path)
        version = "v1" if i % 3 == 0 else "v2"
        n_lanes = 1 if version == "v2" else 2
        dup_lanes = [1] if version == "v1" else []
        failed_lanes = [2] if version == "v1" else []
        samples = []
        barcodes = []
        for s in range(4):
            lane = (s % n_lanes) + 1
            samples.append((f"SMP{i:03d}{s:02d}", f"PROJ{i % 4}", lane))
            barcodes.append((_barcode(rng), _barcode(rng)))
        if dup_lanes:
            # sample 2 of lane 1 reuses sample 0's barcode pair
            barcodes[2] = barcodes[0]
        _write(
            os.path.join(path, "SampleSheet.csv"),
            _samplesheet(version, samples, barcodes),
        )
        _write(
            os.path.join(path, "RunInfo.xml"),
            _runinfo(run_id, fc, n_lanes),
        )
        _write(
            os.path.join(path, "Stats.json"),
            _stats_json(run_id, samples, barcodes, n_lanes, failed_lanes, rng),
        )
        _write(
            os.path.join(path, "interop_dump.txt"),
            _interop(n_lanes, rng),
        )
        fq_dir = os.path.join(path, "fastq")
        os.makedirs(fq_dir)
        for s_idx, (sample_id, _proj, lane) in enumerate(samples):
            for read in ("R1", "R2"):
                _fastq_gz(
                    os.path.join(
                        fq_dir,
                        f"Sample{sample_id}_S{s_idx + 1}_L{lane:03d}_{read}"
                        "_001.fastq.gz",
                    ),
                    rng.randint(3, 9),
                    rng,
                )
        empty = finished and i % 2 == 0
        if finished:
            _write(
                os.path.join(path, "RTAComplete.txt"),
                "" if empty else "RTA 3.4.4 complete\n",
            )
        specs.append(
            RunSpec(
                run_id, path, finished, empty, version, n_lanes, samples,
                dup_lanes, failed_lanes,
            )
        )
    if n_runs > 0:
        # a re-delivery: the first run lands again under a second root
        # with the same run id; it must never register twice
        first = specs[0]
        copy_path = os.path.join(root, "delivery_b", first.seqrun_igf_id)
        os.makedirs(os.path.dirname(copy_path))
        _copytree(first.path, copy_path)
        specs.append(
            dataclasses.replace(
                first, path=copy_path, redelivery_of=first.seqrun_igf_id
            )
        )
    return specs


def _copytree(src: str, dst: str) -> None:
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.isdir(s):
            _copytree(s, d)
        else:
            with open(s, "rb") as fi, open(d, "wb") as fo:
                fo.write(fi.read())


def _samplesheet(version, samples, barcodes) -> str:
    if version == "v1":
        lines = [
            "[Header]", "IEMFileVersion,4", "Date,2024-01-15",
            "Workflow,GenerateFASTQ", "", "[Reads]", "151", "151", "",
            "[Settings]", "Adapter,AGATCGGAAGAGC", "", "[Data]",
            "Lane,Sample_ID,Sample_Name,Sample_Plate,Sample_Well,"
            "I7_Index_ID,index,I5_Index_ID,index2,Sample_Project,Description",
        ]
        for (sid, proj, lane), (i7, i5) in zip(samples, barcodes):
            lines.append(
                f"{lane},{sid},Sample{sid},,,D7{sid[-2:]},{i7},"
                f"D5{sid[-2:]},{i5},{proj},"
            )
    else:
        lines = [
            "[Header]", "FileFormatVersion,2", "RunName,SynthRun",
            "InstrumentPlatform,NextSeq2000", "", "[Reads]",
            "Read1Cycles,101", "Read2Cycles,101", "Index1Cycles,8",
            "Index2Cycles,8", "", "[BCLConvert_Settings]",
            "SoftwareVersion,4.0.3", "", "[BCLConvert_Data]",
            "Sample_ID,Sample_Name,index,index2,Sample_Project",
        ]
        for (sid, proj, _lane), (i7, i5) in zip(samples, barcodes):
            lines.append(f"{sid},Sample{sid},{i7},{i5},{proj}")
    return "\n".join(lines) + "\n"


def _runinfo(run_id: str, fc: str, n_lanes: int) -> str:
    return (
        '<?xml version="1.0"?>\n'
        '<RunInfo Version="4">\n'
        f'  <Run Id="{run_id}" Number="1">\n'
        f"    <Flowcell>{fc}</Flowcell>\n"
        f"    <Instrument>{run_id.split('_')[1]}</Instrument>\n"
        "    <Date>1/15/2024</Date>\n"
        "    <Reads>\n"
        '      <Read Number="1" NumCycles="151" IsIndexedRead="N" />\n'
        '      <Read Number="2" NumCycles="8" IsIndexedRead="Y" />\n'
        '      <Read Number="3" NumCycles="8" IsIndexedRead="Y" />\n'
        '      <Read Number="4" NumCycles="151" IsIndexedRead="N" />\n'
        "    </Reads>\n"
        f'    <FlowcellLayout LaneCount="{n_lanes}" SurfaceCount="2" '
        'SwathCount="1" TileCount="12" />\n'
        "  </Run>\n</RunInfo>\n"
    )


def _stats_json(run_id, samples, barcodes, n_lanes, failed_lanes, rng) -> str:
    conv = []
    unknown = []
    for lane in range(1, n_lanes + 1):
        demux = []
        known_total = 0
        for (sid, _proj, s_lane), (i7, i5) in zip(samples, barcodes):
            if s_lane != lane:
                continue
            n = rng.randint(200_000, 400_000)
            known_total += n
            demux.append(
                {
                    "SampleId": sid,
                    "SampleName": f"Sample{sid}",
                    "NumberReads": n,
                    "IndexMetrics": [
                        {
                            "IndexSequence": f"{i7}+{i5}",
                            "MismatchCounts": {"0": n - n // 50, "1": n // 50},
                        }
                    ],
                }
            )
        # healthy lanes lose ~5% of reads to undetermined barcodes; a
        # planted failing lane loses half, under the 80% known gate
        lost = known_total if lane in failed_lanes else known_total // 20
        codes = {}
        for k in range(3):
            codes[f"{_barcode(rng)}+{_barcode(rng)}"] = lost // 3
        unknown.append({"Lane": lane, "Barcodes": codes})
        conv.append(
            {
                "LaneNumber": lane,
                "TotalClustersPF": known_total + 3 * (lost // 3),
                "DemuxResults": demux,
            }
        )
    return json.dumps(
        {"RunId": run_id, "ConversionResults": conv, "UnknownBarcodes": unknown},
        indent=1,
    )


def _interop(n_lanes: int, rng: random.Random) -> str:
    lines = ["# Tile", "Lane,Tile,Read,ClusterCount,ClusterCountPF"]
    for lane in range(1, n_lanes + 1):
        for tile in (1101, 1102):
            c = rng.randint(3_000_000, 4_200_000)
            lines.append(f"{lane},{tile},1,{c},{c - rng.randint(1, 300_000)}")
    lines += ["# Error", "Lane,Tile,Cycle,ErrorRate"]
    for lane in range(1, n_lanes + 1):
        lines.append(f"{lane},1101,10,{rng.randint(10, 60) / 100:.2f}")
    return "\n".join(lines) + "\n"


# --------------------------------------------------------------------------
# report_scan: the star schema the query registry reads
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "view", "click", "purchase", "error")
LANGS = ("en", "en", "fr", "de", "es", "zh")
WORDS = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark value row column data query filter line "
    "customer agg vector"
).split()


def make_star(seed: int, root: str, scale: int = 1) -> dict[str, int]:
    """Write the tables the sampled queries read, as single parquet
    files ``<root>/<table>.parquet`` with the column names and types of
    the engine's query corpus: ``scale`` = 1 gives 1,500 orders
    (~6,000 line items), 150 customers, 1,000 events and 500 documents.
    Returns the row count per table.

    Money columns hold whole numbers and discounts are multiples of
    1/32, so every sum the queries take is exact in binary floating
    point and both engines compute the same digits, whatever their
    summation order.
    """
    import datetime as dt  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    rng = random.Random(seed)
    i32, i64, f64, txt = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables: dict[str, tuple[list, list[tuple]]] = {}
    tables["region"] = (
        [("r_regionkey", i32), ("r_name", txt)],
        [(k, name) for k, name in enumerate(REGIONS)],
    )
    tables["nation"] = (
        [("n_nationkey", i32), ("n_name", txt), ("n_regionkey", i32)],
        [(k, f"NATION_{k}", k % 5) for k in range(25)],
    )
    n_cust = 150 * scale
    tables["customer"] = (
        [("c_custkey", i64), ("c_name", txt), ("c_nationkey", i32),
         ("c_acctbal", f64), ("c_mktsegment", txt)],
        [
            (k, f"Customer#{k:09d}", rng.randrange(25),
             rng.randrange(-99_999, 999_999) / 100, rng.choice(SEGMENTS))
            for k in range(n_cust)
        ],
    )
    orders, lines = [], []
    day0 = dt.datetime(1995, 1, 1)
    for o in range(1500 * scale):
        odate = day0 + dt.timedelta(days=rng.randrange(2400))
        total = 0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = rng.randint(1, 50)
            price = qty * rng.randint(900, 2100)
            total += price
            lines.append(
                (
                    o, rng.randrange(200 * scale), rng.randrange(10 * scale),
                    ln, float(qty), float(price), rng.randrange(4) / 32,
                    rng.randrange(3) / 32, rng.choice("ANR"),
                    rng.choice("FO"),
                    odate + dt.timedelta(days=rng.randint(1, 121)),
                )
            )
        orders.append(
            (o, rng.randrange(n_cust), rng.choice("FOP"), float(total),
             odate, rng.choice(PRIORITIES))
        )
    tables["orders"] = (
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", txt),
         ("o_totalprice", f64), ("o_orderdate", ts),
         ("o_orderpriority", txt)],
        orders,
    )
    tables["lineitem"] = (
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
         ("l_linenumber", i32), ("l_quantity", f64),
         ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", txt), ("l_linestatus", txt), ("l_shipdate", ts)],
        lines,
    )
    t0 = dt.datetime(2024, 1, 1)
    events = sorted(
        (
            t0 + dt.timedelta(microseconds=rng.randrange(30 * 86_400_000_000)),
            rng.randrange(15 * scale), rng.choice(EVENT_TYPES),
            rng.randrange(1, 33_000) / 100, rng.randrange(100),
        )
        for _ in range(1000 * scale)
    )
    tables["events"] = (
        [("event_id", i64), ("ts", ts), ("user_id", i64),
         ("event_type", txt), ("value", f64), ("props", txt)],
        [
            (k, when, user, kind, value, f'{{"k": {prop}}}')
            for k, (when, user, kind, value, prop) in enumerate(events)
        ],
    )
    docs = []
    for k in range(500 * scale):
        if k >= 10 and rng.random() < 0.08:
            # an exact copy of an earlier document, for the dedup query
            text = docs[rng.randrange(len(docs))][1]
        else:
            text = " ".join(
                rng.choice(WORDS) for _ in range(rng.randint(8, 90))
            )
        docs.append(
            (k, text, rng.choice(LANGS), f"src{k % 20}", len(text))
        )
    tables["documents"] = (
        [("doc_id", i64), ("text", txt), ("lang", txt), ("source", txt),
         ("n_chars", i64)],
        docs,
    )
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, (fields, rows) in tables.items():
        schema = pa.schema(fields)
        cols = list(zip(*rows))
        table = pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = len(rows)
    return counts
