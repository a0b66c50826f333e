"""Seeded benchmark inputs.

Every input derives from the ``--seed`` argument alone, so the same seed
gives byte-identical inputs. The program under test only ever sees the
parquet files written here.

* ``interleaved`` writes the package's synthetic interleaved corpus
  (``corpus.write_corpus_parquet``) in the many-file layout.
* ``one_fat_file`` rewrites such a corpus as one file holding one row group,
  the layout that starves the scan of parallelism.
* ``near_dup_docs`` / ``write_flat`` build a flat ``(doc_id, text, source)``
  table with planted exact copies and planted near-duplicate pairs.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdftableextractor_spark import corpus

NGRAM = 3
THRESHOLD = 0.5


def _rng(seed: int, salt: str) -> random.Random:
    h = hashlib.md5(f"perfbench:{seed}:{salt}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


# --------------------------------------------------------------------------
# interleaved corpus (extract, structure)
# --------------------------------------------------------------------------


HEAVY_TOLERANCE = 25  # spans per heavy doc


def corpus_seed(seed: int, n_docs: int) -> int:
    """The corpus seed for benchmark seed ``seed``: the first candidate whose
    heavy docs hold HEAVY_SPANS each on average, within HEAVY_TOLERANCE.

    The generator draws each heavy doc's size from HEAVY_SPANS +- 300, and
    the structure workload's pair work grows with its square: left free,
    the seed alone would move a pass by about 30 %. Pinning the heavy size
    keeps the stressed property fixed while every span's content still
    varies with the seed."""
    heavy = [i for i in range(n_docs) if i % corpus.HEAVY_EVERY == 7]
    target = corpus.HEAVY_SPANS * len(heavy)
    for k in range(100_000):
        cand = seed * 100_003 + k
        total = sum(len(corpus.gen_document(cand, i)["spans"]) for i in heavy)
        if abs(total - target) <= HEAVY_TOLERANCE * len(heavy):
            return cand
    raise RuntimeError(f"no corpus seed for benchmark seed {seed}")


def interleaved(path: str, n_docs: int, seed: int, docs_per_file: int) -> list[dict]:
    """Write the many-file corpus and return the same documents in memory
    (the oracle's input)."""
    cs = corpus_seed(seed, n_docs)
    corpus.write_corpus_parquet(path, n_docs, seed=cs, docs_per_file=docs_per_file)
    return corpus.gen_documents(n_docs, seed=cs)


def drop_heavy(path: str, docs: list[dict]) -> list[dict]:
    """Remove the heavy-tailed docs from a corpus written by
    ``interleaved``, file by file, keeping its layout."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ]
    for f in files:
        t = pq.read_table(f)
        keep = [not is_heavy(x) for x in t["doc_id"].to_pylist()]
        pq.write_table(t.filter(pa.array(keep)), f, row_group_size=64)
    return [x for x in docs if not is_heavy(x["doc_id"])]


def one_fat_file(src: str, dst_dir: str) -> None:
    """Rewrite a corpus as ONE parquet file with ONE row group."""
    table = pq.read_table(src)
    os.makedirs(dst_dir, exist_ok=True)
    pq.write_table(
        table, os.path.join(dst_dir, "part-00000.parquet"),
        row_group_size=max(table.num_rows, 1),
    )


def is_heavy(doc_id: str) -> bool:
    return int(doc_id.split("-")[1]) % corpus.HEAVY_EVERY == 7


def interleaved_shares(docs: list[dict]) -> dict:
    """Share of docs that are heavy-tailed and share of spans that are pdf
    pages (the layout kernel's input)."""
    n_spans = sum(len(d["spans"]) for d in docs)
    n_pdf = sum(s["kind"] == "pdf" for d in docs for s in d["spans"])
    return {
        "docs": len(docs),
        "spans": n_spans,
        "heavy_doc_share": sum(is_heavy(d["doc_id"]) for d in docs) / len(docs),
        "pdf_span_share": n_pdf / max(n_spans, 1),
    }


# --------------------------------------------------------------------------
# flat near-dup corpus (near_dup)
# --------------------------------------------------------------------------


def tokens(text: str) -> list[str]:
    """The dedup operators' token spec (lower, trim, split on whitespace,
    empties dropped) for the plain single-spaced ASCII text built here."""
    return [t for t in text.lower().strip().split(" ") if t]


def shingles(text: str, n: int = NGRAM) -> set[str]:
    w = tokens(text)
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str, n: int = NGRAM) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def _vocab(rng: random.Random, size: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: set[str] = set()
    while len(words) < size:
        words.add(
            "".join(
                rng.choice(cons) + rng.choice(vows)
                for _ in range(rng.randint(2, 4))
            )
        )
    return sorted(words)


def near_dup_docs(
    n_docs: int,
    seed: int,
    near_share: float = 0.10,
    exact_share: float = 0.04,
) -> tuple[list[dict], set[tuple[str, str]], dict]:
    """Flat docs with planted duplicates.

    ``near_share`` of the docs are edited copies of distinct originals
    (2-10 % of tokens substituted, so most land above the 0.5 trigram
    Jaccard threshold and a few below it); ``exact_share`` are verbatim
    copies of other originals. Originals used as near-dup bases are never
    copied verbatim, so each planted pair survives exact dedup as is.

    Returns (docs, planted pairs whose exact Jaccard >= THRESHOLD as sorted
    id tuples, shares).
    """
    rng = _rng(seed, "near_dup")
    vocab = _vocab(rng, 4000)
    n_near = int(n_docs * near_share)
    n_exact = int(n_docs * exact_share)
    n_orig = n_docs - n_near - n_exact
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 160)))
        for _ in range(n_orig)
    ]
    bases = rng.sample(range(n_orig), n_near + n_exact)
    near_of: list[tuple[int, int]] = []  # (base index, variant index)
    for b in bases[:n_near]:
        w = texts[b].split(" ")
        rate = rng.uniform(0.02, 0.10)
        for k in rng.sample(range(len(w)), max(1, int(len(w) * rate))):
            w[k] = rng.choice(vocab)
        near_of.append((b, len(texts)))
        texts.append(" ".join(w))
    for b in bases[n_near:]:
        texts.append(texts[b])
    # ids are a seeded permutation: copies and variants interleave with their
    # originals, so either side of a pair may carry the lower id
    ids = [f"d{k:07d}" for k in rng.sample(range(10 * n_docs), n_docs)]
    docs = [
        {"doc_id": ids[i], "text": t, "source": f"src{i % 4}"}
        for i, t in enumerate(texts)
    ]
    planted = {
        tuple(sorted((ids[b], ids[v])))
        for b, v in near_of
        if jaccard(texts[b], texts[v]) >= THRESHOLD
    }
    shares = {
        "docs": n_docs,
        "planted_dup_share": n_near / n_docs,
        "planted_pairs_above_threshold": len(planted),
        "exact_dup_share": n_exact / n_docs,
    }
    return docs, planted, shares


def write_flat(path: str, docs: list[dict]) -> None:
    """One parquet file with one row group, like a driver-side documents
    table."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {k: pa.array([d[k] for d in docs], pa.string()) for k in ("doc_id", "text", "source")}
    )
    pq.write_table(
        table, os.path.join(path, "documents.parquet"), row_group_size=len(docs)
    )
