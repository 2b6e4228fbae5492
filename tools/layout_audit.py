"""Registry-wide LAYOUT-DETERMINISM audit: every query's result hashed
under two different physical layouts (shuffle-partition counts), at
sf0.001. A mismatch means the query's VALUES depend on summation /
evaluation order — the bug class the cross-engine oracle is
structurally blind to when both engines happen to pick the same order
(round 8 found exactly this in agg_anova_f: the sweep's 32-thread
session reordered a 5-row double sum past round(4) while the test
session and DuckDB agreed with each other).

FRESHNESS (VERDICT r8 "what's wrong #1"): each record row carries a
SOURCE FINGERPRINT — md5 of the query function's source text plus its
oracle SQL — and tests/test_layout_audit.py asserts every registered
query's current fingerprint matches the recorded one. Editing a query
body (not just growing the registry) therefore fails the suite until
the audit is re-run for the edited names:

    python tools/layout_audit.py --changed      # re-run only stale/new
    python tools/layout_audit.py                # full re-run
    python tools/layout_audit.py --only a,b,c   # explicit names

Incremental runs MERGE into the committed LAYOUT_AUDIT.json (rows for
unchanged queries are kept; rows whose fingerprint went stale are
replaced; rows for unregistered names are dropped).

The comparator is the driver's: column-name-sorted, row-sorted, repr
hashing. Writes LAYOUT_AUDIT.json at the repo root.

Usage: python tools/layout_audit.py [--changed | --only n1,n2] [sf_dir]
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python-UDF workers import the package too, and they see PYTHONPATH, not
# this process's sys.path: set it before the session starts, so a run
# from any working directory finds the checkout.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

RECORD = os.path.join(REPO, "LAYOUT_AUDIT.json")


def _helpers_salt(pkg: str = os.path.join(REPO, "cdc_poc_spark")) -> str:
    """md5 over every package source file OUTSIDE queries/ (operators/,
    cdc/, streaming/, sources/, tables.py, session.py, ...). Folded
    into every query fingerprint so that editing a shared helper
    (global_index, common_substring_runs, the OPQ stack, load_table)
    marks ALL queries stale under --changed — ADVICE r9: hashing only
    the query function's own source let helper edits silently skip
    re-audit, the same staleness class VERDICT r8 #1 flagged, one
    level down. A helper edit therefore costs a full re-run; cheap
    false positives beat silent staleness. Paths are hashed relative
    to the checkout root, so every checkout of the same tree agrees."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(pkg):
        if os.path.basename(root) == "queries" or "__pycache__" in root:
            dirs[:] = []
            continue
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, os.path.dirname(pkg)).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:8]


_SALT = None


def source_fingerprint(spec) -> str:
    """md5 of the query function's source + oracle SQL + the shared
    helpers salt (see _helpers_salt). Docstring edits count as changes
    (cheap false positives beat silent staleness)."""
    global _SALT
    if _SALT is None:
        _SALT = _helpers_salt()
    try:
        src = inspect.getsource(spec.fn)
    except OSError:  # builtins / exec'd code — fall back to bytecode
        src = repr(spec.fn.__code__.co_code)
    return hashlib.md5(
        (src + "\n" + (spec.oracle or "") + "\n" + _SALT).encode()
    ).hexdigest()[:16]


def _rows_hash(df) -> tuple[int, str]:
    pdf = df.toPandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(map(repr, pdf.astype(str).itertuples(index=False, name=None)))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> None:
    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.session import get_spark

    argv = sys.argv[1:]
    only: set[str] | None = None
    changed_only = False
    if argv and argv[0] == "--changed":
        changed_only = True
        argv = argv[1:]
    elif argv and argv[0] == "--only":
        only = set(argv[1].split(","))
        argv = argv[2:]
    sf = argv[0] if argv else "/root/testdata/sf0.001"

    specs = all_specs()
    fps = {n: source_fingerprint(s) for n, s in specs.items()}

    prior: dict[str, dict] = {}
    if (changed_only or only is not None) and os.path.exists(RECORD):
        with open(RECORD) as fh:
            rec = json.load(fh)
        if rec.get("sf_dir") == sf:
            prior = rec.get("queries", {})

    if only is not None:
        todo = [n for n in specs if n in only]
        missing = only - set(todo)
        if missing:
            print(f"WARNING: --only names not registered: {sorted(missing)}")
    elif changed_only:
        todo = [
            n
            for n in specs
            if n not in prior or prior[n].get("fp") != fps[n] or "error" in prior[n]
        ]
        print(f"{len(todo)} of {len(specs)} queries stale/new; re-running those")
    else:
        todo = list(specs)

    spark = get_spark(app_name="layout-audit")
    # the session's own value is layout 1 (ADVICE r8: don't assume 32);
    # restore it in a finally so an aborted audit can't leave the
    # session misconfigured
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    alt = "7" if orig != "7" else "5"
    t0 = time.perf_counter()
    results: dict[str, dict] = {n: r for n, r in prior.items() if n in specs}
    try:
        for name in todo:
            spec = specs[name]
            try:
                spark.conf.set("spark.sql.shuffle.partitions", orig)
                n1, h1 = _rows_hash(spec.fn(spark, sf))
                spark.catalog.clearCache()
                spark.conf.set("spark.sql.shuffle.partitions", alt)
                n2, h2 = _rows_hash(spec.fn(spark, sf))
                spark.catalog.clearCache()
                row = {"n": n1, "match": (n1, h1) == (n2, h2)}
                if not row["match"]:
                    row["detail"] = {f"h{orig}": (n1, h1), f"h{alt}": (n2, h2)}
            except Exception as exc:  # noqa: BLE001 - report, don't abort
                row = {"error": f"{type(exc).__name__}: {exc}"}
            row["fp"] = fps[name]
            results[name] = row
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    mism = sorted(n for n, r in results.items() if r.get("match") is False)
    errs = sorted(n for n, r in results.items() if "error" in r)
    out = {
        "sf_dir": sf,
        "layouts": [orig, alt],
        "n_queries": len(results),
        "n_rerun": len(todo),
        "n_mismatch": len(mism),
        "mismatches": mism,
        "n_error": len(errs),
        "errors": {n: results[n]["error"] for n in errs},
        "total_sec": round(time.perf_counter() - t0, 1),
        "queries": results,
    }
    with open(RECORD, "w") as fh:
        json.dump(out, fh, indent=1)
    print(
        f"{len(results)} queries recorded ({len(todo)} re-run) under 2 layouts; "
        f"{len(mism)} mismatches; {len(errs)} errors; {out['total_sec']} s"
    )
    for n in mism:
        print(" MISMATCH:", n, results[n]["detail"])


if __name__ == "__main__":
    main()
