"""In-memory span tracing around the public functions of each layer.

The tracer measures layers from outside: it replaces a public function
(or method) with a wrapper that records a span — name, start, end,
parent span and the id of the client operation in flight — and calls
the original.  A function imported by name into other modules of the
package is patched at every such binding, so calls between layers are
seen too.  ``uninstall`` restores every original.

Spans stay in memory until :meth:`Tracer.dump`.  A layer's self time is
the total duration of its spans minus the time covered by their direct
child spans.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "data_management_python_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> Span:
        st = self._stack()
        sp = Span(
            next(self._ids), st[-1] if st else None, self.op, name,
            time.perf_counter(),
        )
        st.append(sp.id)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span named ``name`` around the with-block."""
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    # -- patching ----------------------------------------------------------

    def _wrap(self, name: str, fn, context_manager: bool = False):
        tracer = self
        if context_manager:
            # a @contextmanager verb: the span covers the with-block, so
            # the block's calls become its children

            @functools.wraps(fn)
            def cm_wrapper(*args, **kwargs):
                @contextlib.contextmanager
                def traced():
                    with tracer.span(name), fn(*args, **kwargs) as value:
                        yield value

                return traced()

            return cm_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch_method(
        self, cls: type, attr: str, name: str, context_manager: bool = False
    ) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrap(name, orig, context_manager))

    def patch_function(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every module of the package that
        bound the same function object under the same name."""
        orig = getattr(module, attr)
        wrapper = self._wrap(name, orig)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")
            ):
                continue
            if getattr(mod, attr, None) is orig:
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------

    def layer_stats(self) -> dict[str, dict[str, float]]:
        """{span name: {calls, self_s, p50_s}} over all spans."""
        child_s: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_s[sp.parent] += sp.end - sp.start
        by_name: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            dur = sp.end - sp.start
            by_name[sp.name].append((dur, max(0.0, dur - child_s[sp.id])))
        out = {}
        for name, rows in by_name.items():
            durs = sorted(d for d, _ in rows)
            out[name] = {
                "calls": len(rows),
                "self_s": sum(s for _, s in rows),
                "p50_s": durs[len(durs) // 2],
            }
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": sp.id, "parent": sp.parent, "op": sp.op,
                            "name": sp.name, "start": sp.start, "end": sp.end,
                        }
                    )
                    + "\n"
                )


def install_layers(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark
    reports on."""
    import importlib  # noqa: PLC0415

    from data_management_python_spark import catalog, eav, fsio  # noqa: PLC0415
    from data_management_python_spark.store import TableStore  # noqa: PLC0415

    for verb in (
        "fetch_by", "exists", "attributes_of", "upsert", "store_records",
        "store_with_attributes", "table",
    ):
        tracer.patch_method(TableStore, verb, f"store.{verb}")
    tracer.patch_method(
        TableStore, "transaction", "store.transaction", context_manager=True
    )
    for verb in (
        "exists", "isdir", "getmtime", "getsize", "makedirs", "listdir",
        "walk", "read_text", "write_text_atomic", "create_exclusive",
        "put_text", "put_if_absent", "replace", "unlink", "rmtree",
    ):
        tracer.patch_method(fsio.LocalFsIO, verb, "fsio")
    tracer.patch_function(eav, "melt_attributes", "eav.melt_attributes")
    tracer.patch_function(catalog, "load_table", "catalog.load_table")
    entry_points = {
        "sources": {
            "sources.samplesheet": ["read_samplesheet"],
            "sources.stats_json": ["read_demux_stats"],
            "sources.runinfo_xml": ["read_runinfo"],
            "sources.interop": ["read_interop_dump"],
            "sources.fastq": ["list_fastq_files", "count_fastq_reads_many"],
        },
        "validation": {
            "sources.samplesheet": ["validate_samplesheet_rows"],
            "validation.metadata": ["duplicate_barcodes"],
        },
        "qc": {"qc.barcode_qc": ["barcode_qc"]},
        "plans.demux_pipeline": {
            "plans.demux_pipeline": [
                "build_work_units", "register_fastq_outputs",
            ],
        },
        "streaming.discovery": {
            "streaming.discovery": ["discover_new_runs"],
        },
        "streaming.ingest": {"streaming.ingest": ["ingest_batch"]},
    }
    for layer, modules in entry_points.items():
        for mod_name, funcs in modules.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for fn in funcs:
                tracer.patch_function(mod, fn, f"{layer}.{fn}")
