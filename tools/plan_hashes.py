"""Mechanized plan diff over the declared query set (the r15 promotion
mechanism, now a committed tool): md5 of the normalized optimizedPlan
string for every declared query, one JSONL line per query.

Usage:
    python tools/plan_hashes.py [sf_dir] > /tmp/hashes.jsonl
    # diff two dumps to enumerate plan-changed queries:
    python tools/plan_hashes.py --compare A.jsonl B.jsonl

Normalization scrubs expression ids (#123), temp-view UUID suffixes, tmp
paths, DataFrame-API lambda variable numbers (``x_12``) and physical
``plan_id``s, so a hash difference means the distributed plan STRUCTURE
changed — the tranche-0 promotion criterion (__spark_entry__.py).  Streaming
queries (no batch optimizedPlan) hash their analyzed logical plan text.

Two dumps of one commit are byte-identical.  Three flicker sources are
removed:
- CacheManager substitution: a subtree matching an earlier query's
  in-query ``persist()`` would plan as an InMemoryRelation depending on
  unpersist timing earlier in the dump session (seen on
  minhash_calibration_curve / minhash_threshold_pr_curve), so the dump
  clears the session cache before each query;
- a query's own ``persist()`` prints the cached subtree's physical plan,
  whose ``plan_id``s and lambda variable numbers come from process-wide
  counters (seen on minhash_calibration_curve): both are scrubbed;
- the distinct-aggregate rewrite orders its distinct groups, and so the
  Expand projections, the grouping columns and the ``gid`` tags, by
  expression-id hashes (seen on q21_sole_fault_supplier): on lines that
  carry ``gid``, ``_normalize`` replaces the tag values with ``G`` and
  sorts the items of every bracketed list.  A change that only permutes
  those groups hashes the same.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _split_items(s: str) -> list:
    """Top-level comma-separated items of a list body (parentheses and
    already-canonical ``⟦...⟧`` lists nest)."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "(⟦":
            depth += 1
        elif c in ")⟧":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


def _canonical_gid_line(line: str) -> str:
    line = re.sub(r"gid#x = \d+", "gid#x = G", line)
    inner = re.compile(r"\[([^\[\]]*)\]")
    while inner.search(line):
        line = inner.sub(
            lambda m: "⟦" + ", ".join(sorted(
                "G" if it.isdigit() else it
                for it in _split_items(m.group(1)))) + "⟧", line)
    return line


def _normalize(s: str) -> str:
    s = re.sub(r"#\d+", "#x", s)
    s = re.sub(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
               "UUID", s)
    s = re.sub(r"/tmp/[^\s,\)\]]+", "/tmp/X", s)
    s = re.sub(r"cist_cache_[0-9a-f]+", "cist_cache_X", s)
    # process-wide counters: DataFrame-API lambda variables (x_1, y_2)
    # and the physical plan ids inside an InMemoryRelation
    s = re.sub(r"lambda ([a-z]+)_\d+", r"lambda \1_N", s)
    s = re.sub(r"plan_id=\d+", "plan_id=N", s)
    return "\n".join(_canonical_gid_line(ln) if "gid#x" in ln else ln
                     for ln in s.split("\n"))


def dump(sf_dir: str) -> None:
    from sedona_iceberg_extension_spark.plans.queries import QUERIES
    from sedona_iceberg_extension_spark.session import get_session

    spark = get_session(master="local[8]")
    for name, qd in QUERIES.items():
        spark.catalog.clearCache()
        try:
            df = qd.fn(spark, sf_dir)
            try:
                plan = df._jdf.queryExecution().optimizedPlan().toString()
            except Exception:
                plan = df._jdf.queryExecution().analyzed().toString()
            h = hashlib.md5(_normalize(plan).encode()).hexdigest()
            print(json.dumps({"query": name, "plan_md5": h}))
        except Exception as e:
            print(json.dumps({"query": name,
                              "err": f"{type(e).__name__}: {e}"[:200]}))
        sys.stdout.flush()
    spark.stop()


def compare(a_path: str, b_path: str) -> int:
    def load(p):
        out = {}
        for line in open(p):
            rec = json.loads(line)
            out[rec["query"]] = rec.get("plan_md5") or rec.get("err")
        return out
    a, b = load(a_path), load(b_path)
    changed = sorted(n for n in a if n in b and a[n] != b[n])
    missing = sorted(set(a) - set(b))
    added = sorted(set(b) - set(a))
    for n in changed:
        print(f"CHANGED {n}")
    for n in missing:
        print(f"MISSING {n}")
    for n in added:
        print(f"ADDED {n}")
    print(f"# {len(changed)} changed, {len(missing)} missing, "
          f"{len(added)} added, {len(a)} total")
    return 0 if not (changed or missing) else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["--compare"]:
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    dump(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
