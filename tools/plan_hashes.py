"""Plan-digest sidecar for registry hygiene (round-6, verdict item 8).

With ~190 queries and a 50-slot driver correctness window, a GREEN
query re-verifies only every ~4 rounds — a code change that alters an
unrotated green query's plan could ship unverified for several rounds.
This tool digests every registered query's ANALYZED logical plan
(normalized: expression ids, plan ids, and the sf_dir path stripped)
PLUS its oracle SQL — a changed oracle invalidates an old green row
just as surely as a changed plan — into ``PLAN_HASHES.json`` at the
repo root, recording for each query the round count at which its
digest last CHANGED (``since_round`` = number of CORRECTNESS_r*.json
files present at detection).

``plans.collect_queries`` then orders green queries whose plan changed
AFTER their last driver verification ahead of merely-stale greens, so
a plan change forces the query into the next truncated window.

Run per round after any query/operator change:

    python tools/plan_hashes.py [sf_dir]

Digest normalization keeps the file stable across sessions (expression
ids like ``l_orderkey#45L`` and ``plan_id=123`` vary run to run); it
deliberately digests the ANALYZED plan, not the optimized one, so AQE
and stats-dependent physical choices don't churn the file.

BASELINING convention (why the committed file can hold stamps a single
tool run would not produce): when the digest FORMULA changes, the
sidecar is regenerated in two steps — run this tool against the
PREVIOUS round's commit in a worktree, set every ``since_round`` to 0
("digest in effect since before any recorded verification"), then run
it at HEAD so only genuinely-changed queries get the current stamp.
Without the rebaseline, a formula change would mark all ~190 queries
plan-stale at once and the staleness ordering would degenerate for a
full rotation cycle.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import importlib.util
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HASHES_PATH = os.path.join(REPO, "PLAN_HASHES.json")

#: the ONE scale factor every digest is computed at.  Six queries
#: embed data-derived literals in their analyzed plans (volume-sized
#: bloom bits, decile/RFM quantile boundaries, pagerank 1/N, tf-idf
#: vocab, pack-sequences prefix target), so a digest is only
#: comparable to another digest computed at the SAME sf_dir — round-8
#: shipped a sidecar regenerated at sf0.1 that a sf0.01 selfcheck
#: then "destabilized".  Every caller (main(), selfcheck) digests at
#: this pinned dir; two consecutive runs at ANY check SF now write
#: byte-identical PLAN_HASHES.json (pinned by
#: tests/test_plan_hashes_fresh.py's src-digest tripwire plus the
#: two-fresh-session full-registry diff run for round 9).
DIGEST_SF_DIR = "/root/testdata/sf0.001"


def _rounds_present() -> int:
    return len(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))


def normalize_plan(plan: str, sf_dir: str) -> str:
    """Strip run-varying tokens from an analyzed-plan string."""
    plan = plan.replace(sf_dir, "<sf_dir>")
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    # higher-order-function lambda variables are numbered by a global
    # session counter — and NOT only the first argument: multi-arg
    # lambdas get y_N, z_N..., so strip the counter from ANY lambda
    # variable (the old x_-only rule let t_gopher_rules' digest flap
    # with execution order, round-7)
    plan = re.sub(r"\blambda (\w+?)_\d+", r"lambda \1_", plan)
    # repartition width literals track the session's core count /
    # shuffle setting, not the query's logic
    plan = re.sub(
        r"\b(RepartitionByExpression \[[^\]]*\]|Repartition),? \d+",
        r"\1 <w>",
        plan,
    )
    # temp dirs (e.g. m_partitioned_merge's per-call store root)
    plan = re.sub(r"/tmp/[\w./=-]+", "<tmp>", plan)
    plan = re.sub(r"file:[\w./=-]+", "<file>", plan)
    return plan


PACKAGE = "data_management_python_spark"


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ImportError:  # parent is a plain module, not a package
        return False


@functools.lru_cache(maxsize=None)
def _package_imports(module_name: str) -> tuple[str, ...]:
    """Names of the ``data_management_python_spark`` modules that
    ``module_name`` imports anywhere in its source — at top level or
    inside a function — sorted, the module itself excluded.  ``from
    pkg import name`` counts ``pkg.name`` when that is a module (``from
    ...llmdata import text``) and ``pkg`` otherwise."""
    tree = ast.parse(inspect.getsource(importlib.import_module(module_name)))
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            if not node.module.startswith(PACKAGE):
                continue
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                found.add(sub if _is_module(sub) else node.module)
    return tuple(sorted(
        n for n in found
        if (n == PACKAGE or n.startswith(PACKAGE + "."))
        and n != module_name
    ))


def src_digest(q) -> str:
    """Spark-free digest of a query's oracle, its fn source and the
    source of every ``data_management_python_spark`` module the fn's
    defining module imports — the cheap component of the full digest.
    tests/test_plan_hashes_fresh.py recomputes it per query to fail CI
    when a query, or a helper module it imports (``text.py``,
    ``store.py``), was edited without re-running this tool (a stale
    sidecar silently disables the plan-changed-jumps-the-window
    ordering).  Only direct imports count: an edit two imports away
    is left to the per-round full run, which digests the plan."""
    try:
        src = inspect.getsource(q.fn)
    except (OSError, TypeError):
        src = ""
    parts = [(q.oracle or "").encode(), src.encode()]
    module = getattr(q.fn, "__module__", None)
    if module:
        for name in _package_imports(module):
            parts.append(name.encode())
            parts.append(
                inspect.getsource(importlib.import_module(name)).encode()
            )
    return hashlib.sha256(b"\x00".join(parts)).hexdigest()[:16]


def compute_digests(spark, sf_dir: str) -> dict[str, dict]:
    from data_management_python_spark.plans import collect_queries

    out: dict[str, dict] = {}
    for name, q in collect_queries().items():
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: {type(e).__name__}: {e}")
            continue
        # queries returning a localCheckpoint'ed frame (the temp-store
        # write substrates) analyze to an opaque LogicalRDD — the plan
        # alone can never flag their logic changes.  Folding the fn's
        # SOURCE into the digest covers them (over-flagging on comment
        # edits is fine: it forces a re-verify, never skips one).
        try:
            src = inspect.getsource(q.fn)
        except (OSError, TypeError):
            src = ""
        out[name] = {
            "digest": hashlib.sha256(
                normalize_plan(plan, sf_dir).encode()
                + b"\x00"
                + (q.oracle or "").encode()
                + b"\x00"
                + src.encode()
            ).hexdigest()[:16],
            "src_digest": src_digest(q),
        }
    return out


def merge_since_rounds(
    old: dict[str, dict],
    digests: dict[str, dict],
    rounds: int,
    registry_names: set[str] | None = None,
) -> dict[str, dict]:
    """New sidecar content: unchanged digests keep their since_round;
    changed/new digests stamp the current round count.  Queries whose
    fn RAISED during digesting (transient env failures) keep their OLD
    record instead of vanishing — a dropped record would both disable
    plan-staleness for the query and spuriously re-stamp it on the
    next successful run.  ``registry_names`` (when given) prunes
    entries for queries deleted from the registry."""
    out: dict[str, dict] = {}
    for name, rec in sorted(digests.items()):
        digest = rec["digest"]
        prev = old.get(name)
        if prev and prev.get("digest") == digest:
            # same full digest -> same src component; carry the record
            # forward, backfilling src_digest for pre-round-7 entries
            out[name] = {**prev, "src_digest": rec["src_digest"]}
        else:
            out[name] = {
                "digest": digest,
                "src_digest": rec["src_digest"],
                "since_round": rounds,
            }
    for name, prev in old.items():
        if name in out:
            continue
        if registry_names is not None and name not in registry_names:
            continue  # deleted from the registry: drop
        out[name] = prev  # digest run skipped it: carry forward
    return out


def regenerate(spark, sf_dir: str) -> list[str]:
    """Recompute every digest and rewrite PLAN_HASHES.json; returns the
    changed/new query names.  Callable with a live session so the
    selfcheck CI entry regenerates the sidecar on every full run — a
    forgotten manual run can no longer silently disable the
    plan-changed-jumps-the-window ordering."""
    try:
        with open(HASHES_PATH) as f:
            old = json.load(f)
    except (OSError, ValueError):
        old = {}
    from data_management_python_spark.plans import collect_queries

    digests = compute_digests(spark, sf_dir)
    merged = merge_since_rounds(
        old, digests, _rounds_present(), set(collect_queries())
    )
    changed = [
        n for n in merged
        if n not in old or old[n].get("digest") != merged[n]["digest"]
    ]
    with open(HASHES_PATH, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(merged)} digests written; {len(changed)} changed/new")
    for n in changed:
        print(f"  changed: {n}")
    return changed


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DIGEST_SF_DIR
    from data_management_python_spark.session import get_spark

    spark = get_spark(app_name="plan_hashes")
    spark.sparkContext.setLogLevel("ERROR")
    regenerate(spark, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
