"""The distributed extraction pipeline: docs table -> spans table + metrics.

Plan shape (SURVEY.md §7, Catalyst-friendly — scan → route → shuffle →
decode → groupBy → stamp → sink). The two Python steps, route and decode,
are ``mapInArrow`` passes; reassembly runs in the JVM:

1. ``route_units``: docs with <= ``heavy_span_threshold`` input spans pass
   through whole as one ``'__doc__'`` row — an Arrow slice that never turns
   into Python objects. Heavier docs split into self-contained page-level
   work units (``document.doc_to_units``), the skew/salting step: a
   6400-page doc becomes 6400 independent units instead of one straggler
   task (reference analog: the page-level task queue,
   src/pybind/docling_threaded_base.h:104-105). Threshold 0 splits every
   non-empty doc; ``page_numbers`` and ``extract_cells`` route that way,
   and ``page_numbers`` keeps only the listed unit numbers per doc.
2. ``repartition(n, doc_id, page)``: hash shuffle spreads the routed rows
   across executors regardless of document skew, and widens the small scans
   that would otherwise serialize the compute-heavy decode.
3. One decode loop (``_decode_batches``) runs the pure-Python kernels: a
   ``'__doc__'`` row decodes its units in process, a unit row decodes alone.
   The spans pass emits ONE row per unit carrying the unit's ordered span
   ARRAY — the reassembly shuffle then moves O(pages) rows, not O(spans)
   rows — plus, with metrics, fixed count/flag/timing columns per unit.
   ``extract_cells`` emits cell rows from the same loop.
4. ``reassemble``: ``groupBy(doc_id).agg(sort_array(collect_list(struct(page,
   unit_spans))))`` — deterministic content order from the (page) key, never
   from partition arrival order — then one Catalyst projection flattens
   the page arrays and stamps dense offsets (``flatten``, ``sequence``,
   ``arrays_zip``): no Python, no per-batch offsets.

Metrics (pages_parsed / cells_emitted / decode_failures / per-stage ms per
partition) are derived relationally from the same decoded rows.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from docling_parse_spark.document import decode_unit, doc_to_units
from docling_parse_spark.pdf.page import DecodeConfig
from docling_parse_spark.schemas import SPAN_SCHEMA, SPANS_TABLE_SCHEMA, UNIT_SPAN_SCHEMA

# per-stage timing keys, one metrics column each (reference pdf_timings
# parity, src/parse/utils/pdf_timings.h:32-99: decode_resources,
# decode_contents [tokenize+interpret], create_word/line_cells ≙ words,
# decode_annots); dedup/sanitize/words/order split the page finish
STAGE_KEYS = ("resources", "tokenize", "interpret", "dedup", "sanitize", "words",
              "order", "annots", "html")

# one row per decoded unit: the unit's ordered span array
DECODED_DDL = f"doc_id string, page int, unit_spans array<{UNIT_SPAN_SCHEMA.simpleString()}>"
METRICS_DECODED_DDL = (
    DECODED_DDL + ", cells int, failed boolean, decode_ms double, "
    + ", ".join(f"{k}_ms double" for k in STAGE_KEYS)
)

# routed rows: either a whole light doc (unit_kind='__doc__', doc_spans set)
# or one heavy-doc page unit (payload/resources set) — union schema so the
# light/heavy split needs only ONE scan of the input (VERDICT r01 §perf).
# ``page`` is the deterministic content-order key: reassembly sorts on it,
# never on partition arrival order (the reference re-sorts threaded
# completion-order results the same way: docling_parse/pdf_parser.py:1583-1602)
ROUTED_DDL = (
    "doc_id string, page int, unit_kind string, payload string, resources string, "
    f"doc_spans array<{SPAN_SCHEMA.simpleString()}>"
)


def _arrow_schema(ddl: str):
    """The pyarrow schema a ``mapInArrow`` pass must yield for ``ddl``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    return to_arrow_schema(DataType.fromDDL(ddl))


def _columns(rows: list[tuple], schema) -> list:
    """Row tuples -> one Arrow array per schema field."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return [pa.array(c, f.type) for c, f in zip(cols, schema)]


def route_units(docs_df: DataFrame, heavy_span_threshold: int,
                page_numbers: list[int] | None = None) -> DataFrame:
    """Single-scan skew routing (cheap, no decode): light docs pass through
    whole (one ``'__doc__'`` row, spans attached, page 0) so their decode
    stays fused; docs over ``heavy_span_threshold`` input spans are split to
    page units so one mega-doc never serializes a task (SURVEY.md §7.4 #4).
    A NULL spans array routes as an empty doc, not a crash (round-4 review).

    ``page_numbers`` splits every non-empty doc (the threshold is ignored)
    and keeps a doc's ``i``-th unit, in page order, when ``i`` is in the
    set; an empty or NULL doc's ``'__doc__'`` row is unit 0. A doc that
    keeps no unit routes no row."""
    schema = _arrow_schema(ROUTED_DDL)
    keep = None
    if page_numbers is not None:
        heavy_span_threshold = 0
        keep = frozenset(int(p) for p in page_numbers)

    def route(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        doc_spans_t = schema.field("doc_spans").type
        for batch in batches:
            spans = batch.column("spans")
            heavy = pc.greater(pc.fill_null(pc.list_value_length(spans), 0),
                               heavy_span_threshold)
            light = batch.filter(pc.invert(heavy))
            n = light.num_rows
            if n and (keep is None or 0 in keep):
                yield pa.RecordBatch.from_arrays(
                    [light.column("doc_id").cast(pa.string()),
                     pa.repeat(pa.scalar(0, pa.int32()), n), pa.repeat(pa.scalar("__doc__"), n),
                     pa.nulls(n, pa.string()), pa.nulls(n, pa.string()),
                     light.column("spans").cast(doc_spans_t)],
                    schema=schema,
                )
            split = batch.filter(heavy)
            if split.num_rows:
                units = [
                    (u["doc_id"], u["page"], u["unit_kind"], u["payload"], u["resources"], None)
                    for doc_id, doc_spans in zip(split.column("doc_id").to_pylist(),
                                                 split.column("spans").to_pylist())
                    for i, u in enumerate(doc_to_units(doc_id, doc_spans))
                    if keep is None or i in keep
                ]
                yield pa.RecordBatch.from_arrays(_columns(units, schema), schema=schema)

    return docs_df.mapInArrow(route, schema=ROUTED_DDL)


def _decode_batches(batches, config: DecodeConfig) -> Iterator[Iterator[tuple]]:
    """Per routed Arrow batch, yield an iterator of ``(doc_id, page,
    UnitResult, decode_ms)`` over its work units. A ``'__doc__'`` row decodes
    its whole doc in process (resources stay dicts: no JSON dumps+loads per
    page); a unit row decodes alone. Both go through ``document.decode_unit``,
    like the oracle, with one fonts cache per task."""
    fonts_cache: dict = {}

    def units_of(batch):
        doc_ids, pages, kinds, payloads, resources, doc_spans = (
            batch.column(c).to_pylist()
            for c in ("doc_id", "page", "unit_kind", "payload", "resources", "doc_spans")
        )
        for i, doc_id in enumerate(doc_ids):
            if kinds[i] == "__doc__":
                units = doc_to_units(doc_id, doc_spans[i], serialize=False)
            else:
                units = [{"unit_kind": kinds[i], "payload": payloads[i], "page": pages[i],
                          "resources": resources[i]}]
            for unit in units:
                t0 = time.perf_counter()
                ur = decode_unit(unit["unit_kind"], unit["payload"], unit["page"],
                                 unit["resources"], config, fonts_cache)
                yield doc_id, unit["page"], ur, (time.perf_counter() - t0) * 1000.0

    for batch in batches:
        yield units_of(batch)


def _decode(routed_df: DataFrame, config: DecodeConfig | None, with_metrics: bool) -> DataFrame:
    """The decode pass: one row per unit — ``(doc_id, page, unit_spans)``,
    plus ``cells``, ``failed``, ``decode_ms`` and one ``{stage}_ms`` column
    per ``STAGE_KEYS`` entry when ``with_metrics``. A failed unit contributes
    an empty span array (UnitResult.spans == [] on failure).

    Output spans go in as one flat struct array + list offsets per batch —
    one vectorized C construction instead of a per-row nested conversion
    (guide §4.2's re-slice-don't-rebuild property)."""
    ddl = METRICS_DECODED_DDL if with_metrics else DECODED_DDL
    schema = _arrow_schema(ddl)
    config = config or DecodeConfig()

    def run(batches):
        import pyarrow as pa

        fields = list(schema)
        span_t = fields[2].type.value_type
        for units in _decode_batches(batches, config):
            keys, metrics, flat, offsets = [], [], [], [0]
            for doc_id, page, ur, ms in units:
                keys.append((doc_id, page))
                flat.extend((k, t, r) for _, k, t, r in ur.spans)
                offsets.append(len(flat))
                if with_metrics:
                    timings = ur.timings or {}
                    metrics.append((ur.cells_emitted, ur.failed, ms,
                                    *(timings.get(k, 0.0) for k in STAGE_KEYS)))
            spans = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                             pa.array(flat, span_t))
            arrays = _columns(keys, fields[:2]) + [spans]
            if with_metrics:
                arrays += _columns(metrics, fields[3:])
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return routed_df.mapInArrow(run, schema=ddl)


def extract_cells(docs_df: DataFrame, config: DecodeConfig | None = None,
                  num_partitions: int | None = None) -> DataFrame:
    """Cell-level output table (FIXTURES.md §6 golden record): one row per
    positioned output cell with axis bbox + font + provenance — the substrate
    for the geometry operators (operators/geometry.py). A failed page yields
    zero cells (UnitResult.cells == [] on failure), never a task kill."""
    from docling_parse_spark.operators.geometry import CELLS_DDL

    spark = docs_df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    units = (route_units(docs_df, 0).filter(F.col("unit_kind") == "pdf")
             .repartition(n, "doc_id", "page"))
    schema = _arrow_schema(CELLS_DDL)
    config = config or DecodeConfig()

    def run(batches):
        import pyarrow as pa

        for units in _decode_batches(batches, config):
            rows = [
                (doc_id, page, i, c.text, c.x0, c.y0, c.x1, c.y1, c.font_key, c.font_name,
                 c.rendering_mode, c.left_to_right, c.block_count, c.instr_count)
                for doc_id, page, ur, _ in units
                for i, c in enumerate(ur.cells)
            ]
            yield pa.RecordBatch.from_arrays(_columns(rows, schema), schema=schema)

    return units.mapInArrow(run, schema=CELLS_DDL)


DOC_META_DDL = (
    "doc_id string, title string, author string, subject string, "
    "keywords string, created string, modified string, "
    "outline array<struct<level:int,title:string,page:int>>, "
    "n_fields int, field_names array<string>"
)


def extract_doc_meta(docs_df: DataFrame) -> DataFrame:
    """Doc-level metadata table: XMP-style info + flattened outline (TOC) +
    AcroForm field summary (reference document.h:140-181,
    pdf_parser.py:796-899). Narrow mapInArrow — no shuffle, one row per doc."""
    from docling_parse_spark.document import doc_meta

    schema = _arrow_schema(DOC_META_DDL)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            rows = []
            for doc_id, spans in zip(batch.column("doc_id").to_pylist(),
                                     batch.column("spans").to_pylist()):
                m = doc_meta(spans if spans is not None else [])
                meta = m["meta"]
                rows.append((
                    doc_id, meta["title"], meta["author"], meta["subject"],
                    meta["keywords"], meta["created"], meta["modified"],
                    [{"level": l, "title": t, "page": p} for l, t, p in m["outline"]],
                    len(m["fields"]), m["fields"],
                ))
            yield pa.RecordBatch.from_arrays(_columns(rows, schema), schema=schema)

    return docs_df.mapInArrow(run, schema=DOC_META_DDL)


def reassemble(decoded_df: DataFrame) -> DataFrame:
    """Per-unit span arrays -> north-rule spans table with dense per-doc
    offsets from deterministic content order (sort on the page key, flatten,
    index-stamp; failed units contribute an empty array but keep the doc in
    the output).

    One exchange + ObjectHashAggregate groups a doc's units, then one
    Catalyst projection (no Python): ``flatten`` keeps the page order
    ``sort_array`` gave, ``sequence(0, size - 1)`` is each span's position
    in that order (empty for a doc with no spans), and ``arrays_zip`` pairs
    it with the span fields under the span struct's names."""
    pages = F.sort_array(F.collect_list(F.struct("page", "unit_spans")))
    grouped = decoded_df.groupBy("doc_id").agg(pages.alias("pages"))
    spans = F.flatten("pages.unit_spans")
    n = F.size(spans)
    offsets = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array())
    fields = [spans[f].alias(f) for f in UNIT_SPAN_SCHEMA.fieldNames()]
    zipped = F.arrays_zip(*fields, offsets.alias("offset"))
    # the cast gives the frame the table schema's nullable elements; the
    # optimizer drops it (SimplifyCasts), so it costs nothing per row and
    # parquet files written from it mark the list elements required
    return grouped.select(
        "doc_id", zipped.cast(SPANS_TABLE_SCHEMA["spans"].dataType).alias("spans"))


def metrics_table(decoded_df: DataFrame, lineage: str = "") -> DataFrame:
    """Per-partition extraction metrics (FIXTURES.md §3) — the analog of the
    reference's per-page timings/metrics maps (utils/pdf_timings.h:32-99)."""
    with_pid = decoded_df.withColumn("partition_id", F.spark_partition_id())
    return (
        with_pid.groupBy("partition_id")
        .agg(
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
            F.count("*").cast("long").alias("pages_parsed"),
            F.sum("cells").cast("long").alias("cells_emitted"),
            F.sum(F.when(F.col("failed"), 1).otherwise(0)).cast("long").alias("decode_failures"),
            F.round(F.sum("decode_ms"), 3).alias("decode_ms_total"),
            *[F.round(F.sum(f"{k}_ms"), 3).alias(f"{k}_ms_total") for k in STAGE_KEYS],
        )
        .withColumn("lineage", F.lit(lineage))
    )


def extract_spans(
    docs_df: DataFrame,
    config: DecodeConfig | None = None,
    num_partitions: int | None = None,
    with_metrics: bool = False,
    lineage: str = "",
    heavy_span_threshold: int = 24,
    page_numbers: list[int] | None = None,
):
    """End-to-end: docs table -> (spans table[, metrics table]).

    ``page_numbers`` restricts decoding to a unit subset per doc (the
    reference's page-range scheduling, document.h:372-384) — every doc is
    split to units and ``route_units`` keeps only the listed unit numbers,
    so skipped pages are never decoded.

    Two-path skew handling in ONE scan: ``route_units`` keeps docs with
    <= ``heavy_span_threshold`` input spans whole (fused decode) and splits
    heavier docs to page-granularity units; a single hash repartition then
    spreads all rows before the decode pass — one mega-doc can never
    serialize a task, and the input is read exactly once. The repartition
    doubles as the parallelism widener (small parquet scans coalesce to a
    few partitions under maxPartitionBytes, which would serialize the
    compute-heavy decode). ``num_partitions`` sizes it (default: session
    ``spark.sql.shuffle.partitions``)."""
    spark = docs_df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    routed = route_units(docs_df, heavy_span_threshold, page_numbers)
    decoded = _decode(routed.repartition(n, "doc_id", "page"), config, with_metrics)
    if not with_metrics:
        return reassemble(decoded)
    decoded = decoded.persist()
    spans = reassemble(decoded)
    metrics = metrics_table(decoded, lineage)
    # spans and metrics both scan the persisted decode output; the caller
    # should unpersist this handle once both are materialized (checkpoint.py
    # does) — otherwise cached partitions accumulate across buckets.
    spans.persisted_source = decoded
    metrics.persisted_source = decoded
    return spans, metrics
