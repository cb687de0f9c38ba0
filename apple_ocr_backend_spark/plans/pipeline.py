"""End-to-end extraction pipeline — one topology (SURVEY.md §3.2/§3.3
re-expression):

    docs ──explode_salted──> span rows (+1 placeholder row per span-less
         doc)
         [──left join media(media_ref -> payload), when a media store is
           given]
         ──repartition(doc_id, salt)
         ──ONE mapInArrow (``operators.assemble.extract_span_rows`` per
           Arrow batch; one sorted partial span array per input
           (doc,salt) group, empty when nothing survives)
         ──groupBy(doc_id): flatten + array_sort (one compact payload
           shuffle) ──> extracted docs

One ``documents`` scan: every doc reaches the merge through its own
(possibly empty) partials.  The plan picks the image branch: with a media
store the kernel OCRs the decoded PNG payload (``operators.ocr_extract.
recover_pixels``); without one it resolves the span's token stream
(``recover_ocr``), whose progressive passes stop per span once a pass's
best candidate is confident enough (reference P9, early stop inside the
kernel).

Everything relational (salting, ordering, reassembly) runs JVM-side;
Python only touches Arrow batches inside the kernel — no per-row Python
anywhere (north_rule).

The per-doc output is bit-identical to the pandas oracle
(`sources.corpus.extract_docs_oracle`): every doc's spans are sorted by the
unique integer key (offset, span_pos, out_rank), so no result depends on
partitioning, Arrow batch size or shuffle order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..operators.skew import explode_salted, repartition_salted

PARTIAL_SCHEMA = ("doc_id string, partial array<struct<offset:int,"
                  "span_pos:int,out_rank:int,kind:string,text:string,"
                  "media_ref:string>>")
_PARTIAL_FIELDS = ["offset", "span_pos", "out_rank", "kind", "text",
                   "media_ref"]
_SPAN_COLS = ["doc_id", "salt", "span_pos", "offset", "kind", "media_ref",
              "text"]


def _mono_partial_kernel(cfg_dict: dict):
    """The extraction kernel (mapInArrow): per Arrow batch, extract every
    span row (``operators.assemble.extract_span_rows``, the oracle's own
    dispatch) and emit one sorted partial span array per input
    (doc_id, salt) group.

    One UDF stage instead of a per-kind branch union: measured on this
    box, three concurrent UDF stages + a JVM branch union ran at ~0.5
    scaling efficiency 8->32 cores while a single UDF stage ran at ~0.65+;
    one stage also means one Arrow round-trip per batch.  The image branch
    is ``ocr_extract.recover_pixels`` when the batch carries a joined
    ``payload`` column, else the token-stream ``recover_ocr``.

    The input partitioning (doc_id, salt) already co-locates every row of a
    (doc, salt) group in one partition, so the kernel can emit sorted
    partial span arrays per (doc_id, salt) directly — the JVM then needs only
    ONE payload shuffle (groupBy doc_id, flatten+sort small arrays) instead
    of two groupBy passes over individual span rows.  Sort key
    (offset, span_pos, out_rank) is unique per doc (span_pos is the array
    position, out_rank dense within a span), so the kernel's sort and the
    JVM array_sort agree with no tie-break ambiguity.

    Each extracted row is indexed by the batch row it came from, so its
    (doc_id, salt) group number is a gather; one integer lexsort over
    (group, offset, span_pos, out_rank) orders the rows and per-group
    counts give the list offsets.  Every input (doc_id, salt) group gets a
    partial, EMPTY when no span of it survives extraction — including the
    span-less placeholder row ``explode_salted`` emits (null ``kind``, so
    no kernel takes it).  So the partial merge sees every input doc.

    Streaming per Arrow batch: each input batch is extracted, sorted and
    emitted as its own RecordBatch, so per-task memory high-water is ONE
    Arrow batch (plus its extracted rows), not the full partition.  A
    (doc, salt) group that straddles a batch boundary emits one partial
    array per batch; ``reassemble_partials`` flattens ALL partials per
    doc_id and re-sorts by the same unique prefix, so the final sequence
    is identical (pinned by
    test_pipeline_parity.py::test_fused_kernel_streams_per_batch).

    The list<struct> output column is assembled with pyarrow directly from
    the vectorized numpy columns (StructArray + ListArray over group
    offsets) — no per-row Python.
    """
    import numpy as np

    def fn(batches):
        import pyarrow as pa
        from ..config import ExtractConfig
        from ..operators.assemble import extract_span_rows
        cfg = ExtractConfig(**cfg_dict)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            # a span-less placeholder row turns span_pos/offset into floats
            # for its batch; the kernels only carry them through
            b = batch.to_pandas()
            group = (b.groupby(["doc_id", "salt"], sort=True, dropna=False)
                     .ngroup().to_numpy())
            n_groups = int(group.max()) + 1
            doc_ids = np.empty(n_groups, dtype=object)
            doc_ids[group] = b["doc_id"].to_numpy()
            d = extract_span_rows(b, cfg)
            g = group[d.index.to_numpy()]
            d = d.iloc[np.lexsort((d["out_rank"], d["span_pos"],
                                   d["offset"], g))]
            offsets = np.concatenate(
                [[0], np.cumsum(np.bincount(g, minlength=n_groups))])
            struct = pa.StructArray.from_arrays(
                [pa.array(d["offset"].to_numpy(dtype=np.int32)),
                 pa.array(d["span_pos"].to_numpy(dtype=np.int32)),
                 pa.array(d["out_rank"].to_numpy(dtype=np.int32)),
                 pa.array(d["kind"], type=pa.string()),
                 pa.array(d["text"], type=pa.string()),
                 pa.array(d["media_ref"], type=pa.string())],
                names=_PARTIAL_FIELDS)
            partial = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), struct)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, type=pa.string()), partial],
                names=["doc_id", "partial"])
    return fn


def reassemble_partials(partials: DataFrame) -> DataFrame:
    """Merge kernel-emitted partial arrays: one groupBy(doc_id) over compact
    arrays (most docs have exactly one partial), flatten + array_sort by the
    (offset, span_pos, out_rank) prefix, assign dense order.

    The kernel emits a partial for every input (doc_id, salt) group, empty
    when nothing survives, so every input doc is already a group here and a
    span-less doc comes out once with ``spans = []``."""
    return (partials
            .groupBy("doc_id")
            .agg(F.array_sort(F.flatten(F.collect_list("partial")))
                 .alias("ordered"))
            .select(
                "doc_id",
                F.transform(
                    "ordered",
                    lambda s, i: F.struct(
                        s["kind"].alias("kind"),
                        s["text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        i.cast("int").alias("order"))).alias("spans")))


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
    cols = _SPAN_COLS
    if media is not None:
        cols = _SPAN_COLS + ["payload"]
        rows = (rows.withColumn("__mkey", media_join_key())
                .join(media.withColumnRenamed("media_ref", "__mkey"),
                      "__mkey", "left")
                .select(*cols))
    partials = (repartition_salted(rows, num_partitions).select(*cols)
                .mapInArrow(_mono_partial_kernel(cfg.as_dict()),
                            schema=PARTIAL_SCHEMA))
    return reassemble_partials(partials)
