"""The flagship extraction pipeline: interleaved documents → ordered spans.

Pipeline (one job, ONE shuffle):

    documents(doc_id, spans)
      → explode(spans)                          [narrow]
      → _emit_rows: one per-kind CASE per span  [narrow, JVM-side codegen]
          text   : normalize → drop boiler/footnote/empty
          boiler : dropped
          media  : pass through untouched
          table  : serialized grid → dense row-major cells (pure SQL
                   higher-order functions; textract_processor.py:252-301
                   semantics: max-extent + '' fill)
          kv     : 'key\\x1fvalue' → 'key: value', empty keys dropped
                   (textract_processor.py:319-344)
      ∪ pdf spans: mapInPandas layout kernel → raw text lines + table cells,
                   then the same normalize/keep rule (_pdf_filtered)
      → row_number() over (doc_id ORDER BY offset, sub_idx) - 1 AS order
                                                [THE shuffle: hash by doc_id]

``extract_spans`` runs that pipeline; ``extract_frames`` builds the
structuring stage's frames from the same ``_emit_rows`` over kind-filtered
slices of the exploded spans, so the per-kind rules exist once.

Scale notes (100 TB design):
- All heavy per-span work happens *before* the shuffle at span/page
  granularity, so a 500-page document is 500 parallel units, not one task —
  the skew case is solved structurally, not just by AQE (which stays on as a
  backstop for the final window's skewed doc groups).
- Every filter/projection is expressed declaratively → Catalyst pushes
  `spans IS NOT NULL`-style predicates into the scan and prunes to the
  read columns.
- The only Python in the plan is the Arrow-batched pdf layout kernel; the
  per-kind emission is whole-stage-codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdftableextractor_spark.functions.strings import (
    footnote_marker_col,
    is_boilerplate_col,
    is_footnote_col,
    normalize_text_col,
)
from pdftableextractor_spark.kernels.layout import (
    KERNEL_OUT_SCHEMA,
    pdf_layout_kernel,
)
from pdftableextractor_spark.types import US

CELL_TAG_RE = r"^r(\d+)c(\d+):"

# densification bounds: a hostile 'r2000000000c0:x' tag would otherwise make
# F.sequence materialize a multi-GB array per row (executor OOM). Real
# document grids are < 10k rows/cols by orders of magnitude; cells tagged
# beyond the per-axis bound are dropped as malformed. The per-axis cap alone
# is not enough — a single 'r9999c9999:x' cell still implies a ~10^8-element
# dense grid (multi-GB in one row), so the AREA is bounded too: a table whose
# (max_r+1)*(max_c+1) exceeds GRID_AREA_MAX is dropped whole, as hostile
# (oracle._table_cells mirrors both bounds).
GRID_MAX = 10_000
GRID_AREA_MAX = 1_000_000


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → one row per span.

    explode_outer on purpose: plain explode adds an implicit
    `size(spans) > 0` predicate that Catalyst pushes into the scan with the
    whole spans-producing expression inlined — when the input is a derived
    column (e.g. the interleave adapter) that doubles the most expensive
    projection in the plan. The outer variant emits a null row for an empty
    array instead; filter it."""
    return (
        documents.select("doc_id", F.explode_outer("spans").alias("span"))
        .filter(F.col("span").isNotNull())
        .select(
            "doc_id",
            F.col("span.offset").alias("offset"),
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        )
    )


def _cells_col(text_col):
    """Parse a serialized 'r{r}c{c}:text' payload into an array of
    (r, c, txt) structs, dropping malformed tokens (null-safe under ANSI)."""
    return F.filter(
        F.transform(
            F.split(text_col, US),
            lambda t: F.struct(
                F.regexp_extract(t, CELL_TAG_RE, 1).try_cast("int").alias("r"),
                F.regexp_extract(t, CELL_TAG_RE, 2).try_cast("int").alias("c"),
                F.regexp_replace(t, CELL_TAG_RE, "").alias("txt"),
            ),
        ),
        lambda x: x["r"].isNotNull()
        & x["c"].isNotNull()
        & (x["r"] < GRID_MAX)
        & (x["c"] < GRID_MAX),
    )


def _grid_extent_cols():
    """max_r / max_c / (r:c → text) map over a 'cells' column. Kept as a
    separate projection stage so the thrice-referenced 'cells' expression is
    never inlined (duplicate keys take the LAST value — set mapKeyDedupPolicy
    LAST_WIN before use, textract_processor.py:287 semantics)."""
    return [
        F.array_max(F.transform("cells", lambda x: x["r"])).alias("max_r"),
        F.array_max(F.transform("cells", lambda x: x["c"])).alias("max_c"),
        F.map_from_entries(
            F.transform(
                "cells",
                lambda x: F.struct(
                    F.concat_ws(":", x["r"], x["c"]).alias("k"),
                    x["txt"].alias("v"),
                ),
            )
        ).alias("m"),
    ]


def _dense_grid_col():
    """Dense row-major grid with '' fill from (max_r, max_c, m) columns —
    the reference's grid reconstruction (textract_processor.py:271-297).
    Tables whose dense area exceeds GRID_AREA_MAX densify to an EMPTY grid
    (dropped whole as hostile) — the when-guard is evaluated BEFORE the
    flatten/sequence expression, so the multi-GB array is never built."""
    area = (F.col("max_r") + 1).cast("bigint") * (F.col("max_c") + 1)
    return F.when(
        area > GRID_AREA_MAX, F.array().cast("array<string>")
    ).otherwise(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.col("max_r")),
                lambda r: F.transform(
                    F.sequence(F.lit(0), F.col("max_c")),
                    lambda c: F.coalesce(
                        F.try_element_at(F.col("m"), F.concat_ws(":", r, c)),
                        F.lit(""),
                    ),
                ),
            )
        )
    ).alias("grid")


def _ws_norm(col):
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def _keep_text_col(text_col):
    """The content-line keep rule: neither boilerplate nor a footnote
    (evaluated on the raw, un-normalized line)."""
    return ~is_boilerplate_col(text_col) & ~is_footnote_col(text_col)


def _pdf_expanded(spans: DataFrame) -> DataFrame:
    """Raw layout-kernel output (doc_id, offset, sub_idx, kind, text,
    media_ref) — text lines UNFILTERED and UNNORMALIZED. Shared by the
    extraction path (which normalizes + filters) and the footnote frame
    (which classifies the raw line, textract_processor.py:98-160 semantics)."""
    return spans.select("doc_id", "offset", "text").mapInPandas(
        pdf_layout_kernel, schema=KERNEL_OUT_SCHEMA
    )


def _pdf_filtered(expanded: DataFrame) -> DataFrame:
    """The normalize/keep projection over raw kernel output, in ONE pass (a
    union of two filters over the kernel output would run the Python kernel
    twice)."""
    staged = expanded.select(
        "doc_id",
        "offset",
        "sub_idx",
        "kind",
        "media_ref",
        F.when(
            F.col("kind") == "text", normalize_text_col(F.col("text"))
        )
        .otherwise(_ws_norm(F.col("text")))
        .alias("text"),
        ((F.col("kind") != "text") | _keep_text_col(F.col("text"))).alias(
            "keep"
        ),
    )
    return staged.filter(
        F.col("keep") & ((F.col("kind") != "text") | (F.col("text") != ""))
    ).select("doc_id", "offset", "sub_idx", "kind", "text", "media_ref")


EMIT_T = "array<struct<sub_idx:int,kind:string,text:string,media_ref:string>>"


def _emit(sub, kind, text, media):
    return F.struct(
        sub.cast("int").alias("sub_idx"),
        kind.alias("kind"),
        text.alias("text"),
        media.alias("media_ref"),
    )


def _emit_rows(*slices: DataFrame) -> list[DataFrame]:
    """Exploded non-pdf spans → output rows (doc_id, offset, sub_idx, kind,
    text, media_ref, max_c), one frame per input slice: the per-kind rules,
    written once. One span-local pass (no shuffle) emits an array of output
    structs per span through a per-kind CASE, then explodes it. ``max_c`` is
    the table's grid width - 1 (null for other kinds), so a table cell's
    row/col is sub_idx div/mod (max_c + 1); callers that do not read it get
    it pruned before the generator.

    The column expressions are built once and shared by every slice:
    building them is ~2,400 py4j round trips, and building them per slice
    took extract_frames' construction from 1.5 s to 2.5 s (100 docs,
    4-vCPU host)."""
    # duplicate (r,c) cells take the LAST value, like the reference's
    # table_structure[row][col] assignment (textract_processor.py:287).
    # NOTE: this mutates the SESSION conf (map-key policy is evaluated at
    # execution, so it cannot be scoped to this plan). build_session already
    # sets it; this covers foreign sessions. If your session needs EXCEPTION
    # semantics elsewhere, run extraction in its own session.
    slices[0].sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")

    # stage 1: parse table cells (null for other kinds)
    cells = F.when(F.col("kind") == "table", _cells_col(F.col("text"))).alias(
        "cells"
    )
    # stage 2: grid extent + cell map (separate Project: 'cells' is
    # referenced three times and must not be inlined)
    extent = _grid_extent_cols()
    # stage 3: dense row-major grid
    grid = _dense_grid_col()
    # stage 4: normalized text + kv parts
    kv_parts = F.split(F.col("text"), US, 2)
    parts = [
        normalize_text_col(F.col("text")).alias("norm"),
        _keep_text_col(F.col("text")).alias("keep_text"),
        F.trim(F.get(kv_parts, 0)).alias("kv_k"),
        F.trim(F.coalesce(F.get(kv_parts, 1), F.lit(""))).alias("kv_v"),
    ]
    # stage 5: per-kind emission
    empty = F.array().cast(EMIT_T)
    emits = (
        F.when(
            F.col("kind") == "text",
            F.when(
                F.col("keep_text") & (F.col("norm") != ""),
                F.array(
                    _emit(F.lit(0), F.lit("text"), F.col("norm"), F.lit(""))
                ),
            ).otherwise(empty),
        )
        .when(
            F.col("kind") == "media",
            F.array(
                _emit(F.lit(0), F.lit("media"), F.lit(""), F.col("media_ref"))
            ),
        )
        .when(
            F.col("kind") == "table",
            F.coalesce(
                F.transform(
                    "grid",
                    lambda cell, i: _emit(
                        i, F.lit("table_cell"), _ws_norm(cell), F.lit("")
                    ),
                ),
                empty,
            ),
        )
        .when(
            F.col("kind") == "kv",
            F.when(
                F.col("kv_k") != "",
                F.array(
                    _emit(
                        F.lit(0),
                        F.lit("kv"),
                        F.concat_ws(": ", F.col("kv_k"), F.col("kv_v")),
                        F.lit(""),
                    )
                ),
            ).otherwise(empty),
        )
        .otherwise(empty)  # 'boiler' and unknown kinds
    ).alias("emits")

    def emit(spans: DataFrame) -> DataFrame:
        keys = ["doc_id", "offset", "kind"]
        return (
            spans.select(*keys, "text", "media_ref", cells)
            .select(*keys, "text", "media_ref", *extent)
            .select(*keys, "text", "media_ref", "max_c", grid)
            .select(*keys, "media_ref", "max_c", "grid", *parts)
            .select("doc_id", "offset", "max_c", emits)
            .select(
                "doc_id", "offset", "max_c", F.explode_outer("emits").alias("e")
            )
            .filter(F.col("e").isNotNull())
            .select(
                "doc_id",
                "offset",
                F.col("e.sub_idx").alias("sub_idx"),
                F.col("e.kind").alias("kind"),
                F.col("e.text").alias("text"),
                F.col("e.media_ref").alias("media_ref"),
                "max_c",
            )
        )

    return [emit(spans) for spans in slices]


def extract_spans(documents: DataFrame, salt: bool = False) -> DataFrame:
    """documents(doc_id, spans) → spans_out(doc_id, order, kind, text,
    media_ref), the driver-checked span sequence (FIXTURES.md §2).

    Single-pass design: one scan handles every span kind except 'pdf' via
    ``_emit_rows``'s per-kind CASE (a per-branch union would scan the input
    once per kind — 6x the IO at the 100 TB design point). The pdf layout
    kernel is the one extra scan (mapInPandas can't share a projection with
    relational branches).

    ``salt=True`` inserts the explicit salted repartition after the explode
    (plans/skew.py): heavy documents and fat input splits spread across the
    cluster before any kernel work. Measured: on a single-fat-file input it
    is a 5x win (the scan stage otherwise serializes); on a well-laid-out
    many-file input it costs one extra all-to-all of raw span text and
    *hurts* scaling efficiency (0.86 -> 0.58 at 4-vs-16 cores). Default off;
    turn on for skewed layouts (few giant files, multi-hundred-page docs
    concentrated in few splits).
    """
    from pdftableextractor_spark.plans.skew import salted_repartition

    s = explode_spans(documents)
    if salt:
        s = salted_repartition(s, "doc_id", "offset")

    (rows,) = _emit_rows(s.filter(F.col("kind") != "pdf"))
    pdf = _pdf_filtered(_pdf_expanded(s.filter(F.col("kind") == "pdf")))
    w = Window.partitionBy("doc_id").orderBy("offset", "sub_idx")
    return rows.drop("max_c").unionByName(pdf).select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("int").alias("order"),
        "kind",
        "text",
        "media_ref",
    )


def extract_frames(documents: DataFrame) -> dict[str, DataFrame]:
    """Structuring-stage inputs: the extraction's intermediate frames, built
    by the same per-kind emitter as ``extract_spans`` (``_emit_rows``), each
    over its kind's slice of the exploded spans.

    Returns
      lines: (doc_id, line_no, text)   — normalized content lines in reading
             order (kind='text' spans + pdf-derived lines), numbered per doc
             (W1, textract_processor.py:117 analog)
      cells: (doc_id, offset, row_idx, col_idx, text) — dense table grids
             from kind='table' spans (pdf-derived cells are flat-only and
             excluded here; they still appear in ``extract_spans`` output)
      kvs:   (doc_id, offset, text='key: value')
      footnotes: (doc_id, line_no, marker, content) — raw content lines
             classified as footnotes (textract_processor.py:98-160), numbered
             over ALL raw candidate lines per doc (the reference's
             `enumerate(document_text)` index at textract_processor.py:118),
             so line_no matches the reference's footnote `line_number` even
             though those lines never reach the filtered `lines` frame.

    Materialization: consumers reference the frames SIX times in one plan
    (cells, kvs, lines ×3, footnotes) and exchange reuse never fires across
    the differently-pruned subtrees — without a cut, the unified-points plan
    ran the scan+explode 7× and the pdf layout kernel 7× (36 parquet scans,
    plans/r07/unified_points_before.txt). The exploded spans and the raw
    kernel output are therefore localCheckpointed EAGERLY, at call time
    (blocks released by the ContextCleaner, not pinned; see the
    FAULT-TOLERANCE TRADE note at dedup.containment_pairs: losing an
    executor fails the query instead of recomputing), so extraction runs
    once per call no matter how many frames the consumer wires together.
    """
    s = explode_spans(documents).localCheckpoint(eager=True)
    pdf_raw = _pdf_expanded(
        s.filter(F.col("kind") == "pdf")
    ).localCheckpoint(eager=True)

    def of_kind(kind: str) -> DataFrame:
        # kind as a literal: the optimizer folds the emitter's CASE down to
        # this kind's branch and prunes the other kinds' columns, so each
        # frame does only its own kind's work
        return s.filter(F.col("kind") == kind).withColumn("kind", F.lit(kind))

    text_rows, table_rows, kv_rows = _emit_rows(
        of_kind("text"), of_kind("table"), of_kind("kv")
    )
    w = Window.partitionBy("doc_id").orderBy("offset", "sub_idx")
    pdf_text = _pdf_filtered(pdf_raw).filter(F.col("kind") == "text")
    lines = (
        text_rows.drop("max_c")
        .unionByName(pdf_text)
        .select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("int").alias("line_no"),
            "text",
        )
    )
    width = F.col("max_c") + 1
    cells = table_rows.select(
        "doc_id",
        "offset",
        F.floor(F.col("sub_idx") / width).cast("int").alias("row_idx"),
        (F.col("sub_idx") % width).cast("int").alias("col_idx"),
        "text",
    )
    kvs = kv_rows.select("doc_id", "offset", "text")

    # raw candidate lines = text spans + pdf-kernel text lines, PRE-filter:
    # footnotes are dropped from `lines`, so classification must happen on
    # this frame. Numbering covers every raw line (blank or not) to mirror
    # the reference's enumerate index.
    raw = (
        of_kind("text")
        .select("doc_id", "offset", F.lit(0).cast("int").alias("sub_idx"), "text")
        .unionByName(
            pdf_raw.filter(F.col("kind") == "text")
            .select("doc_id", "offset", "sub_idx", "text")
        )
    )
    footnotes = (
        raw.select(
            "doc_id",
            (F.row_number().over(w) - 1).cast("int").alias("line_no"),
            F.trim("text").alias("content"),
        )
        .filter(is_footnote_col(F.col("content")))
        .select(
            "doc_id",
            "line_no",
            footnote_marker_col(F.col("content")).alias("marker"),
            "content",
        )
    )
    return {"lines": lines, "cells": cells, "kvs": kvs, "footnotes": footnotes}
