"""Output checks, run on the written result with pyarrow (never with Spark,
so checking submits no Spark job).

Each check returns ``(ok, recall, facts)``: ``ok`` is the pass/fail verdict
counted in ``fail_rate``, ``recall`` is the share of the items the generator
planted that the output contains, and ``facts`` are counts the traced run
reports.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from pdftableextractor_spark import oracle

from gen import THRESHOLD, is_heavy, jaccard


def dir_bytes(path: str) -> int:
    """Bytes under ``path``, a file or a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def read(path: str, columns: list[str]) -> dict[str, list]:
    return pq.read_table(path, columns=columns).to_pydict()


# --------------------------------------------------------------------------
# extract / extract_onefile
# --------------------------------------------------------------------------

SPAN_COLS = ["doc_id", "order", "kind", "text", "media_ref"]


def expected_spans(docs: list[dict]) -> list[tuple]:
    return sorted(
        tuple(r[c] for c in SPAN_COLS) for r in oracle.extract_corpus(docs)
    )


def check_extract(out: str, expected: list[tuple]) -> tuple[bool, float, dict]:
    """Span-sequence equality (doc_id, order, kind, text, media_ref) against
    the pure-Python oracle."""
    t = read(out, SPAN_COLS)
    got = sorted(zip(*(t[c] for c in SPAN_COLS)))
    found = sum((Counter(got) & Counter(expected)).values())
    return got == expected, found / len(expected), {"spans_out": len(got)}


# --------------------------------------------------------------------------
# structure
# --------------------------------------------------------------------------


class StructureOracle:
    """Per-doc facts the structure check needs, from the oracle spans."""

    def __init__(self, docs: list[dict]):
        self.cells: dict[str, set] = defaultdict(set)
        self.kv_values: dict[str, set] = defaultdict(set)
        self.kv_facts: set[tuple[str, str, str]] = set()
        self.lines: Counter = Counter()
        for r in oracle.extract_corpus(docs):
            d = r["doc_id"]
            if r["kind"] == "table_cell":
                self.cells[d].add(r["text"])
            elif r["kind"] == "kv":
                k, v = r["text"].split(": ", 1)
                self.kv_values[d].add(v.strip())
                if v.strip() and k.strip().lower() != "error":
                    self.kv_facts.add((d, k.strip(), v.strip()))
            elif r["kind"] == "text":
                self.lines[d] += 1


def check_structure(out: str, exp: StructureOracle) -> tuple[bool, float, dict]:
    """One row per (doc_id, point_id), point_ids contiguous from 0 per doc,
    every Table Data / Structured Data value present in that doc's oracle
    spans."""
    t = read(out, ["doc_id", "point_id", "type", "field", "value"])
    rows = list(zip(t["doc_id"], t["point_id"], t["type"], t["field"], t["value"]))
    ids: dict[str, list[int]] = defaultdict(list)
    joined: Counter = Counter()  # points entering the commentary join
    ok = True
    for d, pid, typ, _, value in rows:
        ids[d].append(pid)
        if typ != "General Commentary":
            joined[d] += 1
        if typ == "Table Data" and value not in exp.cells[d]:
            ok = False
        if typ == "Structured Data" and value not in exp.kv_values[d]:
            ok = False
    for pids in ids.values():
        if sorted(pids) != list(range(len(pids))):
            ok = False
    kv_found = {(d, f, v) for d, _, typ, f, v in rows if typ == "Structured Data"}
    recall = (
        len(exp.kv_facts & kv_found) / len(exp.kv_facts) if exp.kv_facts else 1.0
    )
    pairs = {d: joined[d] * exp.lines[d] for d in joined}
    total = sum(pairs.values())
    heavy = sum(p for d, p in pairs.items() if is_heavy(d))
    return ok, recall, {
        "points_out": len(rows),
        "commentary_pairs": total,
        "heavy_pair_share": heavy / total if total else 0.0,
    }


# --------------------------------------------------------------------------
# near_dup
# --------------------------------------------------------------------------


def _components(pairs) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class NearDupOracle:
    def __init__(self, docs: list[dict], planted: set):
        self.text = {d["doc_id"]: d["text"] for d in docs}
        first: dict[str, str] = {}
        for d in sorted(docs, key=lambda d: d["doc_id"]):
            first.setdefault(d["text"], d["doc_id"])
        self.after_exact = set(first.values())
        self.planted = planted


def check_near_dup(out: str, exp: NearDupOracle) -> tuple[bool, float, dict]:
    """Every pair's exact trigram Jaccard (recomputed here) is >= the
    threshold and matches the reported value; survivors are the exact-dedup
    representatives minus every non-minimum member of each pair component."""
    p = read(f"{out}/pairs", ["doc_a", "doc_b", "jaccard"])
    pairs = list(zip(p["doc_a"], p["doc_b"]))
    ok = len(set(pairs)) == len(pairs)
    for a, b, j in zip(p["doc_a"], p["doc_b"], p["jaccard"]):
        true_j = jaccard(exp.text[a], exp.text[b])
        if not (a < b and true_j >= THRESHOLD and abs(true_j - j) <= 1e-6):
            ok = False
    comp = _components(pairs)
    want = {d for d in exp.after_exact if comp.get(d, d) == d}
    got = read(f"{out}/survivors", ["doc_id"])["doc_id"]
    ok = ok and len(got) == len(want) and set(got) == want
    recall = len(exp.planted & set(pairs)) / len(exp.planted) if exp.planted else 1.0
    return ok, recall, {"pairs_out": len(pairs)}
