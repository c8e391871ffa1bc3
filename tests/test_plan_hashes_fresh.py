"""Stale-digest tripwire (round-7, verdict item 7).

PLAN_HASHES.json drives the registry's plan-changed-jumps-the-window
ordering; a query edited without re-running tools/plan_hashes.py (or a
full tools/selfcheck.py run, which now regenerates it) silently
disables that ordering for the edited query.  This test recomputes the
SPARK-FREE component of every digest (oracle SQL + fn source) in
milliseconds and fails with the regeneration command when any entry is
stale or missing.  Plan changes caused purely by library-code edits
(fn source untouched) are outside this tripwire — the per-round full
regeneration covers those.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plan_hashes_sidecar_is_fresh():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from plan_hashes import HASHES_PATH, src_digest
    finally:
        sys.path.pop(0)
    from data_management_python_spark.plans import collect_queries

    with open(HASHES_PATH) as f:
        sidecar = json.load(f)

    queries = collect_queries()
    stale = []
    for name, q in queries.items():
        rec = sidecar.get(name)
        if rec is None or rec.get("src_digest") != src_digest(q):
            stale.append(name)
    missing_from_registry = sorted(set(sidecar) - set(queries))
    assert not stale and not missing_from_registry, (
        f"PLAN_HASHES.json is stale for {stale or missing_from_registry}"
        " — regenerate with `python tools/plan_hashes.py` (or a full"
        " `python tools/selfcheck.py` run) so the driver's plan-change"
        " staleness ordering sees the edit"
    )


def test_src_digest_sees_helper_module_edits(monkeypatch):
    """An edit to a helper module alone — no query fn touched — flips
    the src digest of exactly the queries whose defining module
    imports that helper: ``llmdata/text.py`` for the llmdata queries,
    ``store.py`` for the store-substrate relational queries, neither
    for the TPC-H ones."""
    import inspect

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from plan_hashes import src_digest
    finally:
        sys.path.pop(0)
    from data_management_python_spark import store
    from data_management_python_spark.llmdata import text
    from data_management_python_spark.plans import collect_queries

    queries = collect_queries()
    before = {n: src_digest(q) for n, q in queries.items()}
    real = inspect.getsource
    edited = (text, store)

    def getsource(obj):
        src = real(obj)
        return src + "\n# edited\n" if any(obj is m for m in edited) else src

    monkeypatch.setattr(inspect, "getsource", getsource)
    flipped = {n for n, q in queries.items() if src_digest(q) != before[n]}
    assert "d_exact_dedup" in flipped  # llmdata.queries imports text
    assert "m_partitioned_merge" in flipped  # plans.relational: store
    assert "q4_priority_exists" not in flipped  # plans.tpch: neither
    assert {
        n for n in flipped
        if queries[n].fn.__module__.endswith((".tpch", ".graph"))
    } == set()
