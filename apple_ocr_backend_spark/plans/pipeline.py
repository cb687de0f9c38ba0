"""End-to-end extraction pipeline — one topology (SURVEY.md §3.2/§3.3
re-expression):

    docs ──explode_salted──> span rows (+1 placeholder row per span-less
         doc)
         [──left join media(media_ref -> payload), when a media store is
           given]
         ──repartition(doc_id, salt)
         ──ONE mapInArrow (``operators.assemble.extract_span_rows`` per
           Arrow batch; a per-row map: one (doc_id, span) row per
           extracted span plus one null-span row per distinct doc_id)
         ──groupBy(doc_id): array_sort(collect_list(span)) (the one group
           and the one sort) ──> extracted docs

One ``documents`` scan: every doc reaches the merge through its null-span
row.  The plan picks the image branch: with a media store the kernel OCRs
the decoded image payload (``operators.ocr_extract.recover_pixels``); without
one it resolves the span's token stream (``recover_ocr``), whose
progressive passes stop per span once a pass's best candidate is confident
enough (reference P9, early stop inside the kernel).

Everything relational (salting, grouping, ordering, reassembly) runs
JVM-side; Python only touches Arrow batches inside the kernel — no per-row
Python anywhere (north_rule).

The per-doc output is bit-identical to the pandas oracle
(`sources.corpus.extract_docs_oracle`): every doc's spans are sorted by the
unique integer key (offset, span_pos, out_rank), so no result depends on
partitioning, Arrow batch size or shuffle order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..operators.skew import explode_salted, repartition_salted

SPAN_ROW_SCHEMA = ("doc_id string, span struct<offset:int,span_pos:int,"
                   "out_rank:int,kind:string,text:string,media_ref:string>")
_SPAN_FIELDS = ["offset", "span_pos", "out_rank", "kind", "text", "media_ref"]
_KERNEL_COLS = ["doc_id", "span_pos", "offset", "kind", "media_ref", "text"]


def _mono_partial_kernel(cfg_dict: dict):
    """The extraction kernel (mapInArrow), a plain per-row map: per Arrow
    batch, extract every span row (``operators.assemble.extract_span_rows``,
    the oracle's own dispatch) and emit it as ``(doc_id, span)``, plus one
    null-``span`` row for each distinct ``doc_id`` of the batch.

    One UDF stage instead of a per-kind branch union: measured on this
    box, three concurrent UDF stages + a JVM branch union ran at ~0.5
    scaling efficiency 8->32 cores while a single UDF stage ran at ~0.65+;
    one stage also means one Arrow round-trip per batch.  The image branch
    is ``ocr_extract.recover_pixels`` when the batch carries a joined
    ``payload`` column, else the token-stream ``recover_ocr``.

    The kernel builds no per-group arrays and sorts nothing:
    ``reassemble_partials`` groups and sorts once, JVM-side.  ``span``
    leads with the sort key (offset, span_pos, out_rank), unique per doc
    (span_pos is the array position, out_rank dense within a span), so the
    merge's ``array_sort`` has no ties and no result depends on
    partitioning, batch size or row order.  The null
    span rows carry every input doc to the merge, whose ``collect_list``
    drops them, so a span-less doc (its ``explode_salted`` placeholder
    row has a null ``kind``, which no kernel takes) or a doc whose every
    span filters out comes out with ``spans = []``.  ``salt`` is only the
    exchange key: the plan does not pass it in, and the kernel ignores it
    if present.

    Streaming per Arrow batch: each input batch is extracted and emitted
    as its own RecordBatch, so per-task memory high-water is ONE Arrow
    batch (plus its extracted rows), not the full partition (pinned by
    test_pipeline_parity.py::test_fused_kernel_streams_per_batch).
    """
    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from ..config import ExtractConfig
        from ..operators.assemble import extract_span_rows
        cfg = ExtractConfig(**cfg_dict)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # a span-less placeholder row turns span_pos/offset into floats
            # for its batch; the kernels only carry them through
            d = extract_span_rows(batch.to_pandas(), cfg)
            span = pa.StructArray.from_arrays(
                [pa.array(d[c].to_numpy(dtype=np.int32))
                 for c in _SPAN_FIELDS[:3]]
                + [pa.array(d[c], type=pa.string()) for c in _SPAN_FIELDS[3:]],
                names=_SPAN_FIELDS)
            ids = batch.column("doc_id")
            docs = pc.unique(ids)
            # d's index is each extracted row's input row (spans_out)
            yield pa.RecordBatch.from_arrays(
                [pa.concat_arrays([ids.take(d.index.to_numpy()), docs]),
                 pa.concat_arrays([span, pa.nulls(len(docs), span.type)])],
                names=["doc_id", "span"])
    return fn


def reassemble_partials(spans: DataFrame) -> DataFrame:
    """The one merge of the kernel's span rows: groupBy(doc_id),
    ``array_sort(collect_list(span))`` by the (offset, span_pos, out_rank)
    prefix, then assign the dense ``order``.

    ``collect_list`` drops the kernel's null spans, so every input doc is
    a group here and a span-less doc comes out once with ``spans = []``.
    The (doc_id, salt) exchange keeps a normal doc in one task, so the
    map-side partial aggregate sees about one group per doc."""
    return (spans
            .groupBy("doc_id")
            .agg(F.expr("array_sort(collect_list(span)) AS ordered"))
            .selectExpr(
                "doc_id",
                "transform(ordered, (s, i) -> struct(s.kind AS kind, "
                "s.text AS text, s.media_ref AS media_ref, "
                "CAST(i AS INT) AS `order`)) AS spans"))


def media_join_key() -> Column:
    """Span-row key for the media-store payload join: the ``media_ref``,
    or a per-row sentinel ``x-null:<doc_id>:<span_pos>`` where it is null.

    Spark hash-partitions every NULL join key to the SAME reduce partition
    (hash(null) = seed), so when the store is too big to broadcast and the
    join becomes a shuffle join, the 2-of-3 non-image rows would all funnel
    through ONE task — a width-skew AQE never splits (the ~2/3-of-corpus
    partition is text, far under the 256 MB byte threshold; the cost here
    is rows, not bytes — same failure shape as the wave-balance study,
    PLANS.md round 5).  Sentinel keys are per-row unique, spread uniformly,
    and can never equal a real ``media://...`` ref, so join semantics are
    bit-identical.  At bench scale the store auto-broadcasts and the
    sentinel is simply never hashed; the guard is for the
    non-broadcastable regime."""
    return F.coalesce(F.col("media_ref"), F.concat_ws(
        ":", F.lit("x-null"), F.col("doc_id"), F.col("span_pos")))


def check_mode(mode: str) -> None:
    """``mode`` is a compatibility keyword: only ``"fused"``, the one
    topology, is accepted."""
    if mode != "fused":
        raise ValueError(f"mode={mode!r}: the staged topology was removed; "
                         "extraction has one plan, mode='fused'")


def extract_docs(docs: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
                 media: DataFrame | None = None,
                 num_partitions: int | None = None,
                 mode: str = "fused") -> DataFrame:
    """The flagship plan: docs(doc_id, spans[offset-ordered]) ->
    extracted(doc_id, spans[(kind,text,media_ref,order)]).

    ``media`` (``media_ref, payload``; ``sources.derived.
    media_from_documents``) switches the image branch to REAL pixels:
    image spans resolve their ``media_ref`` against the binary media store
    and the kernel reads the serial off the decoded PNG instead of the
    token stream — the north rule's "OCR-text span recovery for image
    media_refs" as an actual pixel path.  The store joins the span rows
    before the salted repartition, so payloads ride that exchange exactly
    once; non-image and span-less placeholder rows carry a null media_ref
    and flow through the SAME left join with a null payload (one subtree,
    no kind-split fork: a filter+union fork re-plans the scan+explode
    upstream twice).  The join key is ``media_join_key()``.

    Scale: the join is 1 image row per doc against a same-cardinality
    store — an equi-join that AQE plans as shuffle-hash; at 100 TB
    co-bucket both tables on media_ref (``sources/bucketed.py``) and it is
    exchange-free on the store side.

    ``num_partitions`` sizes the kernel exchange (``operators.skew.
    repartition_salted``).  ``mode`` accepts only ``"fused"``, the one
    topology; it is kept for callers that still pass it."""
    check_mode(mode)
    rows = explode_salted(docs, cfg)
    cols = _KERNEL_COLS
    if media is not None:
        cols = _KERNEL_COLS + ["payload"]
        rows = (rows.withColumn("__mkey", media_join_key())
                .join(media.withColumnRenamed("media_ref", "__mkey"),
                      "__mkey", "left")
                .select("salt", *cols))
    spans = (repartition_salted(rows, num_partitions).selectExpr(*cols)
             .mapInArrow(_mono_partial_kernel(cfg.as_dict()),
                         schema=SPAN_ROW_SCHEMA))
    return reassemble_partials(spans)
