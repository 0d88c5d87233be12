#!/usr/bin/env python
"""All-key "nothing changed" evidence for refactors.

Usage:
    python tools/plan_fingerprint.py OUT.json [--keys k1,k2]
    python tools/plan_fingerprint.py --diff BEFORE.json AFTER.json

The first form writes one JSON file with, for every key in
``engine.QUERIES`` (or only the ``--keys`` given, to re-check a key the
diff flagged), built on the sf0.001 corpus:

- ``plan``: the optimized logical plan of the key's DataFrame, with
  expression ids (``#123L``), lambda-variable suffixes, plan ids, the
  per-process scratch directory and the column and group-id order of a
  distinct aggregate's ``Expand`` normalised, so two runs of the same
  code print the same text whatever keys ran before;
- ``oracle``: DuckDB's ``json_serialize_sql`` AST of the key's oracle
  (``query_location`` stripped), which ignores parentheses and
  whitespace, or null for a rows-only key.

Run it on two commits and compare the files with ``--diff``: it lists
every key whose plan or oracle AST differs.  The cache is cleared before
each key, so a key's plan does not depend on which keys ran before it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NORMALISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(spark_graft_scratch/)\d+"), r"\1<pid>"),
]


_EXPAND = re.compile(r"^(?P<head>.*\bExpand )\[(?P<rows>.*)\], \[(?P<out>[^\[\]]*)\]$")
_GID_TEST = re.compile(r"\bgid# = (\d+)")


def _split_top(s: str) -> list[str]:
    """``s`` split at each ", " outside brackets and parentheses."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and s.startswith(", ", i):
            parts.append(s[start:i])
            start = i + 2
    parts.append(s[start:])
    return parts


def _node_column(line: str) -> int:
    return len(line) - len(line.lstrip(" :|+-"))


def _canonical_expand(lines: list[str], i: int) -> None:
    """Renumber the ``Expand`` of ``RewriteDistinctAggregates`` at
    ``lines[i]`` in place.  Spark orders its columns and numbers its
    ``gid`` groups by hash-map iteration over expressions whose ids
    depend on the plans built earlier in the session, so the same query
    prints permuted.  Here the columns go in name order, the projection
    rows in the order of their entries, and the gids are reassigned in
    that row order; the parent's grouping list and the first ancestor's
    ``gid# = N`` filters are rewritten to match."""
    m = _EXPAND.match(lines[i])
    if not m:
        return
    out = _split_top(m["out"])
    rows = [_split_top(r[1:-1]) for r in _split_top(m["rows"])]
    if out[-1] != "gid#" or any(
        len(r) != len(out) or not r[-1].isdigit() for r in rows
    ):
        return
    order = sorted(range(len(out) - 1), key=out.__getitem__)
    rows = sorted(([r[j] for j in order] + r[-1:] for r in rows), key=lambda r: r[:-1])
    gids = sorted((r[-1] for r in rows), key=int)
    new_gid = {r[-1]: g for r, g in zip(rows, gids)}
    for r, g in zip(rows, gids):
        r[-1] = g
    canon = ", ".join([out[j] for j in order] + ["gid#"])
    lines[i] = (
        m["head"] + "[" + ", ".join(f"[{', '.join(r)}]" for r in rows) + f"], [{canon}]"
    )
    col = _node_column(lines[i])
    for j in range(i - 1, -1, -1):
        if _node_column(lines[j]) >= col:
            continue
        col = _node_column(lines[j])
        if "gid# = " in lines[j]:
            lines[j] = _GID_TEST.sub(lambda g: f"gid# = {new_gid[g[1]]}", lines[j])
            return
        lines[j] = lines[j].replace(f"[{m['out']}]", f"[{canon}]")


def normalise(plan: str) -> str:
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    lines = plan.split("\n")
    for i, line in enumerate(lines):
        if "Expand [" in line:
            _canonical_expand(lines, i)
    return "\n".join(lines)


def _strip_location(node):
    if isinstance(node, dict):
        return {
            k: _strip_location(v) for k, v in node.items() if k != "query_location"
        }
    if isinstance(node, list):
        return [_strip_location(v) for v in node]
    return node


def oracle_ast(con, sql: str):
    text = con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0]
    return _strip_location(json.loads(text))


def fingerprint(sf_dir: str, keys: list[str] | None) -> dict:
    import duckdb
    from pyspark.sql import SparkSession

    import engine

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("plan-fingerprint")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    out = {}
    for key in keys or sorted(engine.QUERIES):
        spark.catalog.clearCache()
        try:
            df = engine.QUERIES[key](spark, sf_dir)
            plan = normalise(df._jdf.queryExecution().optimizedPlan().toString())
        except Exception as e:  # recorded, so a new failure shows in the diff
            plan = f"ERROR {type(e).__name__}: {str(e).splitlines()[0][:300]}"
        sql = engine.ORACLES.get(key)
        ast = None if sql is None else oracle_ast(con, sql)
        out[key] = {"plan": plan, "oracle": ast}
        print(key, flush=True)
    spark.stop()
    return {"sf_dir": sf_dir, "keys": out}


def diff(before_path: str, after_path: str) -> int:
    with open(before_path) as f:
        before = json.load(f)["keys"]
    with open(after_path) as f:
        after = json.load(f)["keys"]
    changed = 0
    for key in sorted(set(before) | set(after)):
        a, b = before.get(key), after.get(key)
        if a is None or b is None:
            print(f"{key}: only in {'after' if a is None else 'before'}")
            changed += 1
            continue
        parts = [p for p in ("plan", "oracle") if a[p] != b[p]]
        if parts:
            print(f"{key}: {' and '.join(parts)} differ")
            changed += 1
    print(f"{changed} of {len(set(before) | set(after))} keys differ")
    return 1 if changed else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--keys", default=None)
    ap.add_argument("--diff", action="store_true")
    args = ap.parse_args()
    if args.diff:
        sys.exit(diff(*args.paths))
    from __spark_entry__ import _SMOKE_SF_DIR

    keys = args.keys.split(",") if args.keys else None
    result = fingerprint(_SMOKE_SF_DIR, keys)
    with open(args.paths[0], "w") as f:
        json.dump(result, f, sort_keys=True, separators=(",", ":"))


if __name__ == "__main__":
    main()
