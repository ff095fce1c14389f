"""Normalized physical-plan fingerprints: the one implementation.

Usage: python tools/plan_shas.py <repo_root> <sf_dir> [out.json]

``plan_normalized(df)`` renders a DataFrame's executed plan with the
session- and timing-specific noise normalized out; ``plan_sha(df)`` is its
16-hex-digit SHA-256. ``bench.py`` imports both to adjudicate its >1.3x
regression flags (same sha = the plan did not change).

Run as a script, the tool fingerprints every ``HEADLINE`` query of the tree
at ``<repo_root>`` WITHOUT benchmarking it. It takes only ``HEADLINE`` (from
that tree's ``bench.py``) and the queries (from its ``__spark_entry__``);
the normalizer is always THIS file's, so two trees are compared under one
normalizer. That is the before/after proof of a plan-preserving change: run
it on the parent and on the change (same ``SPARK_GRAFT_CPUS``, which sets
the shuffle partition count that plan strings print) and diff the JSON.
Set ``SPARK_GRAFT_DUMP_PLANS=<path>`` to also append each normalized plan
string, keyed by its sha, for diffing the queries that differ.

Note: "planning only" still executes any O(1)-row driver probes a query
performs during construction (BPE vocab argmax, PCA moment probe, iterative
graph rounds), so this is minutes, not seconds, at sf0.1.
"""

import hashlib
import json
import os
import re
import sys


def _split_toplevel(inner: str) -> list:
    """Split a rendered expression list on top-level commas only."""
    parts, depth, cur = [], 0, []
    for ch in inner:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _group_end(s: str, start: int) -> int:
    """Index one past the close of the bracket/paren group opening at start."""
    depth, j = 1, start + 1
    while j < len(s) and depth:
        if s[j] in "([":
            depth += 1
        elif s[j] in ")]":
            depth -= 1
        j += 1
    return j


def _canon_group(s: str, start: int, open_ch: str, expand: bool, gid_idx=None) -> tuple:
    """Canonicalize one bracket/paren group starting at ``start`` (index of
    the opening char): sort top-level items; in Expand projection lists,
    ONLY the gid slot (position ``gid_idx``, located from the gid#x column
    in the node's output-attr list) is rewritten to 'n' — a genuine integer
    literal elsewhere in a branch stays visible to the plan diff."""
    close_ch = "]" if open_ch == "[" else ")"
    j = _group_end(s, start)
    items = _split_toplevel(s[start + 1 : j - 1])
    if expand:
        # slot positions inside a projection sublist track the (permuted)
        # Expand output-attr order — sort within the sublist too, so the
        # canonical form is the SET of emitted expressions per branch
        def _sub(it):
            parts = [p.strip() for p in _split_toplevel(it[1:-1])]
            if gid_idx is not None and gid_idx < len(parts) and parts[gid_idx].isdigit():
                parts[gid_idx] = "n"
            return "[" + ", ".join(sorted(parts)) + "]"

        items = [
            _sub(it) if it.startswith("[") and it.endswith("]") else it
            for it in items
        ]
    return open_ch + ", ".join(sorted(items)) + close_ch, j


def _canon_distinct_rewrite(s: str) -> str:
    """RewriteDistinctAggregates assigns Expand gid numbers and orders the
    expanded grouping keys from exprId-keyed set iteration — the SAME query
    planned at a different session position renders a permuted (but
    semantically identical) plan string (every multi-countDistinct query:
    q_boilerplate_segments, q_schema_drift_audit, q_kmv_distinct_merge).
    Canonicalize: gid literals → 'n'; sort top-level items of keys=[...] /
    output=[...] / hashpartitioning(...) groups; on Expand lines, also
    canonicalize the projection sublists (bare-int gid slots → 'n') and
    sort them."""
    s = re.sub(r"\(gid#x = \d+\)", "(gid#x = n)", s)
    out_lines = []
    for line in s.split("\n"):
        for marker in ("keys=[", "output=[", "hashpartitioning("):
            pos = 0
            while True:
                idx = line.find(marker, pos)
                if idx < 0:
                    break
                grp, end = _canon_group(
                    line, idx + len(marker) - 1, marker[-1], expand=False
                )
                line = line[: idx + len(marker) - 1] + grp + line[end:]
                pos = idx + len(marker)
        if "Expand [" in line:
            pos = 0
            while True:
                idx = line.find("Expand [", pos)
                if idx < 0:
                    break
                # locate the gid slot from the output-attr list FIRST so the
                # projection rewrite touches only that position
                proj_end = _group_end(line, idx + 7)
                gid_idx = None
                if line[proj_end:].startswith(", ["):
                    out_end = _group_end(line, proj_end + 2)
                    out_items = _split_toplevel(line[proj_end + 3 : out_end - 1])
                    for i, attr in enumerate(out_items):
                        if re.match(r"(gid|spark_grouping_id)#", attr.strip()):
                            gid_idx = i
                            break
                grp, end = _canon_group(line, idx + 7, "[", expand=True, gid_idx=gid_idx)
                rest = line[end:]
                # the trailing ", [output attrs]" list of the Expand node
                if rest.startswith(", ["):
                    grp2, end2 = _canon_group(rest, 2, "[", expand=False)
                    rest = ", " + grp2 + rest[end2:]
                line = line[: idx + 7] + grp + rest
                pos = idx + 8
        out_lines.append(line)
    return "\n".join(out_lines)


def normalize_plan_string(s: str) -> str:
    """Normalize a rendered executed plan: expression ids, AQE plan ids, and
    codegen/exchange ids are session-specific noise, so the SAME plan
    stringifies identically across sessions and processes."""
    s = re.sub(r"#\d+", "#x", s)
    s = re.sub(r"\[id=[^\]]*\]", "", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"Statistics\([^)]*\)", "", s)
    s = re.sub(r"isFinalPlan=\w+", "", s)
    # AQE materializes query stages in TIMING-dependent order, so stage ids
    # and whole-stage-codegen ids permute run-to-run inside a cached
    # frame's finalized plan (q_dedup_evidence_clusters at sf0.1)
    s = re.sub(r"\b(Shuffle|Broadcast|TableCache|Result)QueryStage \d+", r"\1QueryStage n", s)
    s = re.sub(r"\*\(\d+\)", "*(n)", s)
    # localCheckpoint leaves print as `Scan ExistingRDD MapPartitionsRDD[NNN]
    # at <action> at <callsite>` — the RDD id (and the Python callsite line)
    # are session-monotonic noise, so the queries whose captured plan IS the
    # post-checkpoint scan (pagerank/PPR) need both normalized
    s = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[n]", s)
    s = re.sub(r"\bat \w+ at \S+:\d+", "at action at callsite", s)
    # higher-order-function lambda variables (x_3, y_7, ...) carry
    # session-monotonic suffixes — normalize the name, keep the shape
    s = re.sub(r"\b([a-z]+)_\d+#x", r"\1_n#x", s)
    # IN-list literals built from a Python set splat in hash-randomized
    # order (same code, different interpreter run → different string,
    # q_rake_keywords); fingerprint the SET, not the arrival order
    s = re.sub(
        r"\bIN \(([^()]+)\)",
        lambda m: "IN (" + ",".join(sorted(m.group(1).split(","))) + ")",
        s,
    )
    return _canon_distinct_rewrite(s)


def plan_normalized(df) -> str:
    """``df``'s executed plan, normalized (see ``normalize_plan_string``).

    FileScan metadata (PushedFilters etc.) truncates at
    spark.sql.maxMetadataStringLength CHARS, so exprId digit-width would
    shift the cut point and leak session position into the hash — lift the
    limit while printing."""
    sess = df.sparkSession
    prev = sess.conf.get("spark.sql.maxMetadataStringLength", "100")
    sess.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        s = df._jdf.queryExecution().executedPlan().toString()
    finally:
        sess.conf.set("spark.sql.maxMetadataStringLength", prev)
    return normalize_plan_string(s)


def plan_sha(df) -> str:
    """Stable fingerprint of the executed physical plan (see
    ``plan_normalized``). Set ``SPARK_GRAFT_DUMP_PLANS=<path>`` to also
    append the normalized strings (keyed by sha) for instability diffing."""
    s = plan_normalized(df)
    sha = hashlib.sha256(s.encode()).hexdigest()[:16]
    dump = os.environ.get("SPARK_GRAFT_DUMP_PLANS")
    if dump:
        with open(dump, "a") as f:
            f.write(json.dumps({"sha": sha, "plan": s}) + "\n")
    return sha


def main():
    repo_root, sf_dir = sys.argv[1], sys.argv[2]
    out_path = sys.argv[3] if len(sys.argv) > 3 else None
    sys.path.insert(0, repo_root)
    import bench as bench_mod  # the TARGET tree's bench (for HEADLINE)
    import __spark_entry__ as entry_mod
    from arc_maskdata_pipeline_plugin_spark import get_spark

    spark = get_spark("plan_shas")
    qs = entry_mod.queries()
    names = [n for n in bench_mod.HEADLINE if n in qs]
    shas = {}
    for name in names:
        try:
            shas[name] = plan_sha(qs[name](spark, sf_dir))
        except Exception as exc:  # a query that can't even plan is reported
            print(f"# {name}: FAILED to plan: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
        print(f"# {name}: {shas.get(name)}", file=sys.stderr)
    doc = json.dumps(shas, indent=1)
    if out_path:
        with open(out_path, "w") as f:
            f.write(doc)
    else:
        print(doc)


if __name__ == "__main__":
    main()
