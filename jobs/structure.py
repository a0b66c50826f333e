"""spark-submit entrypoint for the structuring stage: documents → ONE unified
data-point table matching the reference's row contract.

    spark-submit --py-files engine.zip jobs/structure.py \
        --gen-docs 300 --output /tmp/structured
        [--input documents.parquet] [--master local[8]]

Mirrors the reference's /process + /process_stream dataflow (app.py:240-364)
with every LLM call replaced by its deterministic analog (SURVEY.md §2.9).
Row contract = the reference's df_data row (app.py:267-274):
(source, type, field, value, page, commentary), assembled in reference order:

    0 tables        → 'Table Data'            (app.py:257-277)
    1 key-values    → 'Structured Data'       (app.py:280-296)
    2 text facts    → 'Financial Data'        (app.py:298-318)
    3 footnotes     → 'Footnote'              (app.py:320-335)
      [first-wins dedup + lexical commentary enrichment happens here —
       footnote rows keep their 'Line {n}' default when no lexical match,
       app.py:341-344]
    4 unmatched text→ 'General Commentary'    (app.py:345-364)

Writes one parquet at <output> with a unified per-doc point_id ordered by
(src_rank, offset, seq) — the reference's append order.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--gen-docs", type=int, default=None)
    p.add_argument("--master", default=None)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from pdftableextractor_spark.corpus import write_corpus_parquet
    from pdftableextractor_spark.operators.extract import extract_frames
    from pdftableextractor_spark.operators.structure import (
        unified_data_points,
    )
    from pdftableextractor_spark.session import build_session
    from pdftableextractor_spark.sources.tables import read_path, write_table

    spark = build_session(app_name="structure-job", master=args.master)
    inp = args.input
    if args.gen_docs:
        inp = args.output.rstrip("/") + ".__input__.parquet"
        write_corpus_parquet(inp, args.gen_docs, seed=args.seed)

    t0 = time.time()
    docs = read_path(spark, inp)
    frames = extract_frames(docs)
    # commentary salting pays only on heavy-tailed corpora (quadratic
    # per-doc pair work concentrates in a few giant docs); detect the tail
    # from span counts — one narrow scan — and leave it off for uniform
    # inputs where the xsalt line duplication is a measured loss
    stats = docs.select(F.size("spans").alias("n")).agg(
        F.max("n").alias("mx"),
        F.expr("percentile_approx(n, 0.5)").alias("md"),
    ).collect()[0]
    salt = 8 if stats["mx"] > 20 * max(stats["md"] or 1, 1) else 1
    unified = unified_data_points(frames, commentary_salt=salt)
    write_table(unified, args.output, mode="overwrite")
    wall = time.time() - t0

    pts = read_path(spark, args.output)
    by_src = {
        r["source"]: r["n"]
        for r in pts.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "points": pts.count(),
                "by_source": by_src,
                "with_commentary": pts.filter(F.col("score").isNotNull()).count(),
                "sec": round(wall, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
