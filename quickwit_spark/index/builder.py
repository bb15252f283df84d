"""Segment builder — the indexing pipeline as one grouped-map job.

Re-expresses the reference's indexing actor chain (DocProcessor →
Indexer → IndexSerializer → Packager → Uploader → Publisher,
`quickwit-indexing/src/actors/indexing_pipeline.rs:309-400`) as a
Spark-native pipeline:

    input DataFrame
      → routing: partition_id = pmod(xxhash64(doc_key), P)
        (the reference routes docs with a SipHash of a partition key
         capped at max_num_partitions=200,
         `quickwit-doc-mapper/src/routing_expression/mod.rs:23-52`)
      → groupBy(partition_id).applyInPandas(build_segment)
        one Arrow group = one immutable segment; inside the UDF
        everything is vectorized numpy (tokenize → factorize terms →
        lexsort (term, doc) → run-length to postings → delta-gap varint
        in ONE pass over the whole segment → 128-doc block-max metadata
        → quantized fieldnorms)
      → write a unified inverted-index dataset partitioned by
        (batch_id, kind) with dynamic partition overwrite (idempotent
        reruns of a failed batch replace, never duplicate)
      → docmap (fast-field/doc-store analog) written per batch
      → manifest commit (segments + per-partition lineage checkpoint)

Two transports run the same `build` generator. A batch of at most
`_LOCAL_MAX_DOCS` docs and `_LOCAL_MAX_BYTES` estimated Arrow bytes
(found by a bounded `limit()` probe that ships only row sizes, then one
collect of the rows) is built on the driver and written
with pyarrow into the same `inv/batch_id=…/kind=…/` and
`docs/batch_id=…` layout, with no Spark write job — the reference
likewise builds each split inside one indexer process. Larger batches,
and `routing="input"` (its segments are Spark's input partitions), run
the `mapInArrow` job and the partitioned Spark write.

Scale design: the group-per-partition shape means one segment's docs
must fit one executor's memory — identical to the reference's
per-pipeline 2 GB workbench heap (`index_config/mod.rs:42-65`); at
10^12 docs you raise `num_partitions` so segments land near the
reference's own 10M-doc split target. Only manifest-published segments
are ever searched, so partially written batches are invisible —
the staged→published protocol of the reference's Uploader/Publisher.
Before a batch commits, the docs dataset's Spark read schema is
recorded next to the index config (`docs_schema_path`), so searchers
and merges open the datasets without a schema-inference job.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from quickwit_spark.analysis import tokenize_series  # noqa: F401 (query-side parity)
from quickwit_spark.analysis.tokenizer import tokenize_flat_arrow
from quickwit_spark.codec.norms import fieldnorm_to_id, id_to_fieldnorm
from quickwit_spark.codec.postings import (
    block_metadata_grouped,
    varint_encode,
    varint_encode_grouped,
)
from quickwit_spark.index import manifest as mf

INV_SCHEMA = (
    "segment_id string, kind string, field string, term string, doc_freq long, "
    "payload1 binary, payload2 binary, block_last binary, block_max binary, "
    "meta string"
)

KIND_POSTINGS = "postings"
KIND_NORMS = "norms"
KIND_STATS = "stats"
KIND_SEG = "seg"
KIND_POS = "pos"  # per-term token-position streams (record: position)
KIND_DOCMAP = "docmap"  # per-doc typed row (doc_id, doc_key, stored cols)

# names a stored/time/key column may not use: the inverted-index columns
# plus the docmap positional/key columns and the write partition columns
RESERVED_COLUMNS = frozenset(
    (
        "segment_id", "kind", "field", "term", "doc_freq", "payload1",
        "payload2", "block_last", "block_max", "meta", "doc_id", "doc_key",
        "batch_id", "_pid",
        # query-output columns: a stored column with one of these names
        # would collide with the searcher's result frame at fetch time
        "score", "rank", "sort_value", "sort_value2", "_mr",
    )
)


@dataclass
class FieldConfig:
    name: str
    tokenizer: str = "default"
    record: str = "freq"  # "freq" stores term frequencies; "basic" → tf=1
    fieldnorms: bool = True
    # physical source column when it differs from the field name
    # (dynamic dot-path fields: the FIELD is `actor.id`, the COLUMN is
    # `actor__id` — Spark column resolution reserves dots)
    column: str | None = None
    # concatenate field (reference `field_mapping_entry.rs:355-364`,
    # type: concatenate): tokens of every source column are indexed
    # under this one virtual field (cross-field search). Sources are
    # space-joined before tokenization, so the analyzer must be a
    # token-splitting one (not `raw`).
    sources: tuple = ()


@dataclass
class IndexConfig:
    fields: list[FieldConfig]
    doc_key: str = "doc_id"  # unique long key column in the input
    num_partitions: int = 8
    k1: float = 1.2
    b: float = 0.75
    stored_columns: tuple = ()  # extra columns copied into the docmap
    time_column: str | None = None  # drives time-range pruning
    postings_codec: str = "varint"  # "varint" | "bitpack" (docid deltas)
    # low-cardinality raw columns whose per-segment value sets are
    # recorded in the manifest for tag pruning (reference: DocMapper
    # `tag_fields`, `split_metadata.rs` tags)
    tag_fields: tuple = ()
    # cardinality cap per segment: beyond it the field's tags are
    # dropped (the `field!` marker is omitted ⇒ never pruned on it)
    max_tags_per_field: int = 1000
    # route documents to partitions by this column instead of doc_key
    # (reference: doc-mapping `partition_key` routing expression) — used
    # with tag_fields it co-locates a tag value's docs so pruning can
    # skip whole segments
    routing_column: str | None = None
    # "hash": shuffle docs to num_partitions segments by the routing
    # key (reference: `partition_key` configured). "input": NO shuffle —
    # each input partition becomes one segment in arrival order, the
    # reference's DEFAULT ingest shape (no partition_key ⇒ every split
    # has partition_id 0, `routing_expression/mod.rs:23-52` unused);
    # all segments record partition_id 0 so the merge policy groups
    # them together, exactly like the reference's planner.
    routing: str = "hash"
    # config-defined custom analyzers: {name: spec} resolved by
    # analysis.tokenizer.build_tokenizer (reference: doc-mapping
    # `tokenizers` entries, `tokenizer_entry.rs:25-150`); serialized so
    # executors and later sessions rebuild the identical analyzer
    tokenizers: dict = dc_field(default_factory=dict)
    # per-field fast-column metadata (dynamic doc mapping,
    # `doc_mapping.rs:49-70`): {path: {"fast": bool, "normalizer":
    # "raw"|"lowercase", "datetime_precision": "milliseconds"|...}}.
    # Drives query-side Range bound normalization/truncation and marks
    # indexed text fields whose docmap column is range/sort/agg-able.
    field_options: dict = dc_field(default_factory=dict)
    # multivalued raw field of present dot paths; Exists(path) lowers to
    # Term(presence_field, path) (reference `index_field_presence`,
    # `field_presence.rs:30-80`)
    presence_field: str | None = None
    # stored column holding the original doc JSON — the ES `_source`
    stored_source: str | None = None
    # reference doc-mapping mode ("dynamic" | "lenient" | "strict"):
    # governs whether fields DELETED by a mapping update keep appearing
    # in fetched docs (they do only in dynamic mode, updating-mapper.md)
    mapping_mode: str = "dynamic"

    def to_json(self) -> str:
        return json.dumps(
            {
                "fields": [vars(f) for f in self.fields],
                "doc_key": self.doc_key,
                "num_partitions": self.num_partitions,
                "k1": self.k1,
                "b": self.b,
                "stored_columns": list(self.stored_columns),
                "time_column": self.time_column,
                "postings_codec": self.postings_codec,
                "tag_fields": list(self.tag_fields),
                "max_tags_per_field": self.max_tags_per_field,
                "routing_column": self.routing_column,
                "routing": self.routing,
                "tokenizers": self.tokenizers,
                "field_options": self.field_options,
                "presence_field": self.presence_field,
                "stored_source": self.stored_source,
                "mapping_mode": self.mapping_mode,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "IndexConfig":
        d = json.loads(s)
        for f in d["fields"]:
            f["sources"] = tuple(f.get("sources") or ())
            f.setdefault("column", None)
        d["fields"] = [FieldConfig(**f) for f in d["fields"]]
        d["stored_columns"] = tuple(d["stored_columns"])
        d.setdefault("postings_codec", "varint")
        d["tag_fields"] = tuple(d.get("tag_fields") or ())
        d.setdefault("max_tags_per_field", 1000)
        d.setdefault("routing_column", None)
        d.setdefault("routing", "hash")
        d.setdefault("tokenizers", {})
        d.setdefault("field_options", {})
        d.setdefault("presence_field", None)
        d.setdefault("stored_source", None)
        d.setdefault("mapping_mode", "dynamic")
        return IndexConfig(**d)


def _build_field_rows(
    segment_id: str,
    fld: FieldConfig,
    texts: pd.Series,
    k1: float,
    b: float,
    postings_codec: str = "varint",
    custom_tokenizers: dict | None = None,
) -> tuple[list[dict], dict]:
    """Vectorized single-pass inverted index for one field of one segment.

    Tokenization + lowercase + length-filter run in Arrow C++ kernels
    (`tokenize_flat_arrow`) — no per-token Python objects except the
    (small) term dictionary; everything after is numpy over the flat
    (token_code, doc_idx) stream."""
    n = len(texts)
    # en_stem rides the fast `default` Arrow path: tokenize unstemmed,
    # then stem only the DICTIONARY below — Zipfian vocabularies make
    # that V stem calls instead of one per token
    if custom_tokenizers and fld.tokenizer in custom_tokenizers:
        from quickwit_spark.analysis.tokenizer import build_tokenizer

        base_tokenizer = build_tokenizer(custom_tokenizers[fld.tokenizer])
    else:
        base_tokenizer = "default" if fld.tokenizer == "en_stem" else fld.tokenizer
    import pyarrow as pa

    mv_tok_pos = None  # multivalued position stream (with element gaps)
    if hasattr(texts, "type") and (
        pa.types.is_list(texts.type) or pa.types.is_large_list(texts.type)
    ):
        # multivalued field (reference Cardinality::MultiValued,
        # `field_mapping_type.rs:96-109`): tokenize each array element
        # with the field's analyzer; every element's tokens join the
        # doc's posting stream (fieldnorm = total tokens across elems)
        import pyarrow.compute as pc

        col = texts.combine_chunks() if isinstance(texts, pa.ChunkedArray) else texts
        elem_doc = pc.list_parent_indices(col).to_numpy(zero_copy_only=False)
        elems = pc.cast(pc.list_flatten(col), pa.string())
        flat, tok_elem = tokenize_flat_arrow(elems, base_tokenizer)
        doc_idx = elem_doc[tok_elem]
        if fld.record == "position":
            # positions restart per doc but leave POSITION_GAP=2
            # between consecutive array elements (tantivy's multivalue
            # convention) so phrases cannot match across element
            # boundaries; fieldnorms still count real tokens only
            GAP = 2
            tok_counts = np.bincount(tok_elem, minlength=len(elems)).astype(
                np.int64
            )
            tok_starts = np.cumsum(tok_counts) - tok_counts
            elem_span = tok_counts + GAP
            css = np.cumsum(elem_span) - elem_span  # global element start
            if len(elem_doc):
                first = np.empty(len(elem_doc), dtype=bool)
                first[0] = True
                np.not_equal(elem_doc[1:], elem_doc[:-1], out=first[1:])
                # css of each element's doc-first element
                doc_first_css = css[first][np.cumsum(first) - 1]
                elem_base = css - doc_first_css
            else:
                elem_base = css
            mv_tok_pos = elem_base[tok_elem] + (
                np.arange(len(doc_idx), dtype=np.int64) - tok_starts[tok_elem]
            )
    else:
        if hasattr(texts, "type") and not (
            pa.types.is_string(texts.type) or pa.types.is_large_string(texts.type)
        ):
            # typed leaf (dynamic doc mapping): index the canonical
            # string form as the term value — "1762355", "true" — so a
            # typed term query matches it exactly (`raw` tokenizer)
            col = (
                texts.combine_chunks()
                if isinstance(texts, pa.ChunkedArray)
                else texts
            )
            import pyarrow.compute as pc

            texts = pc.cast(col, pa.string())
        flat, doc_idx = tokenize_flat_arrow(texts, base_tokenizer)
    lens = np.bincount(doc_idx, minlength=n).astype(np.int64)
    total_tokens = int(len(doc_idx))
    rows: list[dict] = []

    # fieldnorms: 1 byte per doc (quantized), exact lengths varint alongside
    norm_ids = fieldnorm_to_id(lens)
    rows.append(
        {
            "segment_id": segment_id,
            "kind": KIND_NORMS,
            "field": fld.name,
            "term": "",
            "doc_freq": n,
            "payload1": norm_ids.tobytes(),
            "payload2": varint_encode(lens),
            "block_last": b"",
            "block_max": b"",
            "meta": "",
        }
    )
    stats = {"doc_count": n, "total_tokens": total_tokens}
    rows.append(
        {
            "segment_id": segment_id,
            "kind": KIND_STATS,
            "field": fld.name,
            "term": "",
            "doc_freq": n,
            "payload1": b"",
            "payload2": b"",
            "block_last": b"",
            "block_max": b"",
            "meta": json.dumps(stats, sort_keys=True),
        }
    )
    if total_tokens == 0:
        return rows, stats

    if isinstance(flat, np.ndarray):  # python-tokenizer fallback path
        codes, uniques = pd.factorize(flat, sort=True)
        codes = codes.astype(np.int32, copy=False)
    else:
        import pyarrow.compute as pc

        denc = pc.dictionary_encode(flat)
        d = denc.dictionary.to_numpy(zero_copy_only=False)
        if fld.tokenizer == "en_stem":
            from quickwit_spark.analysis.stemmer import make_cached_stemmer

            stem = make_cached_stemmer()
            d = np.array([stem(t) for t in d], dtype=object)
        order = np.argsort(d, kind="stable")
        rank = np.empty(len(d), np.int32)
        rank[order] = np.arange(len(d), dtype=np.int32)
        codes = rank[denc.indices.to_numpy()]  # codes in lex term order
        uniques = d[order]
        if fld.tokenizer == "en_stem" and len(uniques) > 1:
            # stems collide: merge duplicate dictionary entries
            dup = np.empty(len(uniques), dtype=bool)
            dup[0] = False
            dup[1:] = uniques[1:] == uniques[:-1]
            if dup.any():
                remap = np.cumsum(~dup, dtype=np.int32) - 1
                codes = remap[codes]
                uniques = uniques[~dup]
    # the flat token stream is in doc order already, so ONE stable sort
    # on the term code yields (term, doc) order — no lexsort needed.
    # numpy's stable radix argsort does one pass per byte of key width,
    # so narrow the key to the vocabulary (uint16 is ~8× int32); above
    # 2^16 terms, two chained 16-bit stable passes are still ~4× faster
    # than one 32-bit sort (classic LSD radix)
    V = len(uniques)
    if V <= 1 << 8:
        order = np.argsort(codes.astype(np.uint8), kind="stable")
    elif V <= 1 << 16:
        order = np.argsort(codes.astype(np.uint16), kind="stable")
    else:
        lo = (codes & 0xFFFF).astype(np.uint16)
        hi = (codes >> 16).astype(np.uint16)
        o1 = np.argsort(lo, kind="stable")
        order = o1[np.argsort(hi[o1], kind="stable")]
    c = codes[order]
    d = doc_idx[order].astype(np.int32, copy=False)
    sorted_pos = None
    if fld.record == "position":
        # token position within its doc; stable sort keeps positions
        # ascending inside every (term, doc) run
        if mv_tok_pos is not None:
            tok_pos = mv_tok_pos  # multivalued: element-gapped positions
        else:
            doc_starts = np.cumsum(lens) - lens
            tok_pos = np.arange(total_tokens, dtype=np.int64) - doc_starts[doc_idx]
        sorted_pos = tok_pos[order].astype(np.uint64)
    # run-length (term, doc) → tf
    new_run = np.empty(len(c), dtype=bool)
    new_run[0] = True
    np.logical_or(c[1:] != c[:-1], d[1:] != d[:-1], out=new_run[1:])
    run_starts = np.flatnonzero(new_run)
    tfs = np.diff(np.append(run_starts, len(c))).astype(np.uint64)
    p_codes = c[run_starts]
    p_docs = d[run_starts].astype(np.uint32)
    if fld.record == "basic":
        tfs = np.ones_like(tfs)

    # term group boundaries over the postings arrays
    new_term = np.empty(len(p_codes), dtype=bool)
    new_term[0] = True
    np.not_equal(p_codes[1:], p_codes[:-1], out=new_term[1:])
    group_starts = np.flatnonzero(new_term)
    doc_freqs = np.diff(np.append(group_starts, len(p_codes)))
    term_values = uniques[p_codes[group_starts]]

    # delta-gap docids (reset at each term boundary), one encode pass
    deltas = np.empty(len(p_docs), dtype=np.uint64)
    deltas[1:] = (p_docs[1:].astype(np.int64) - p_docs[:-1].astype(np.int64)).astype(
        np.uint64
    )
    deltas[group_starts] = p_docs[group_starts]
    if postings_codec == "bitpack":
        from quickwit_spark.codec.bitpack import bitpack_encode_grouped

        doc_blobs = bitpack_encode_grouped(deltas, group_starts)
        postings_meta = "bp"
    else:
        doc_blobs = varint_encode_grouped(deltas, group_starts)
        postings_meta = ""
    tf_blobs = varint_encode_grouped(tfs, group_starts)

    pos_blobs = None
    if sorted_pos is not None:
        # per-doc delta-gap over the sorted position stream, sliced per
        # term (reset at every (term, doc) run start)
        pos_deltas = np.empty_like(sorted_pos)
        pos_deltas[1:] = sorted_pos[1:] - sorted_pos[:-1]
        pos_deltas[run_starts] = sorted_pos[run_starts]
        term_token_starts = run_starts[group_starts]
        pos_blobs = varint_encode_grouped(pos_deltas, term_token_starts)
        term_token_counts = np.diff(np.append(term_token_starts, len(c)))

    # block-max metadata from the segment's own stats (k1/b baked at build,
    # like the reference's tantivy block-max structures)
    avgdl = np.float32(total_tokens) / np.float32(n)
    dl = id_to_fieldnorm(norm_ids)[p_docs].astype(np.float32)
    tf32 = tfs.astype(np.float32)
    comp = tf32 / (
        tf32
        + np.float32(k1) * (np.float32(1.0 - b) + np.float32(b) * dl / avgdl)
    )
    last_blobs, max_blobs = block_metadata_grouped(p_docs, comp, group_starts)

    for i in range(len(group_starts)):
        rows.append(
            {
                "segment_id": segment_id,
                "kind": KIND_POSTINGS,
                "field": fld.name,
                "term": term_values[i],
                "doc_freq": int(doc_freqs[i]),
                "payload1": doc_blobs[i],
                "payload2": tf_blobs[i],
                "block_last": last_blobs[i],
                "block_max": max_blobs[i],
                "meta": postings_meta,
            }
        )
        if pos_blobs is not None:
            rows.append(
                {
                    "segment_id": segment_id,
                    "kind": KIND_POS,
                    "field": fld.name,
                    "term": term_values[i],
                    "doc_freq": int(term_token_counts[i]),
                    "payload1": pos_blobs[i],
                    "payload2": b"",
                    "block_last": b"",
                    "block_max": b"",
                    "meta": "",
                }
            )
    return rows, stats


_INV_COLUMNS = (
    "segment_id", "kind", "field", "term", "doc_freq",
    "payload1", "payload2", "block_last", "block_max", "meta",
)


def _rows_to_batch(rows: list[dict], extra_types=()):
    """Inverted-index rows → one RecordBatch of the unified output
    schema; `extra_types` are the docmap-only (name, arrow type) columns,
    all-null on inverted-index rows (parquet stores them as ~free null
    runs)."""
    import pyarrow as pa

    types = {
        "segment_id": pa.string(), "kind": pa.string(), "field": pa.string(),
        "term": pa.string(), "doc_freq": pa.int64(), "payload1": pa.binary(),
        "payload2": pa.binary(), "block_last": pa.binary(),
        "block_max": pa.binary(), "meta": pa.string(),
    }
    n = len(rows)
    arrays = [
        pa.array([r[c] for r in rows], type=types[c]) for c in _INV_COLUMNS
    ]
    names = list(_INV_COLUMNS)
    for name, t in extra_types:
        arrays.append(pa.nulls(n, type=t))
        names.append(name)
    return pa.RecordBatch.from_arrays(arrays, names=names)


_DOCMAP_CHUNK = 1 << 16  # rows per emitted docmap batch (bounds Arrow IPC memory)

# A build batch of at most this many docs and this many estimated Arrow
# bytes runs on the driver (pyarrow build and write, no Spark write
# job); anything larger runs the Spark write. Set from the build
# crossover measured solo and with four search clients on the same
# driver (CHANGES.md): at 10 k docs the driver build was faster in three
# of four settings and within run-to-run noise in the fourth; from 30 k
# docs on it lost in at least one. 8 MiB is twice what 10 k docs of the
# benchmark corpus hold. 0 pins the Spark transport.
_LOCAL_MAX_DOCS = 10_000
_LOCAL_MAX_BYTES = 8 << 20


def _key_bound(v):
    """Manifest min/max doc-key bound: int for numeric keys, the raw
    string otherwise (string doc keys must not crash the build)."""
    try:
        return int(v)
    except (TypeError, ValueError):
        return str(v)


def _docmap_batches(segment_id: str, seg, doc_key: str, extra_types):
    """Docmap rows for one segment, emitted from the SAME mapInArrow pass
    as the postings (the reference's doc store is likewise written by the
    same serializer that writes the postings, `IndexSerializer`). The
    inverted-index columns are null except (segment_id, kind); doc_id is
    the positional id inside the (already (pid, doc_key)-sorted) slice."""
    import pyarrow as pa

    n = seg.num_rows
    names = list(_INV_COLUMNS) + [name for name, _ in extra_types]
    for lo in range(0, n, _DOCMAP_CHUNK):
        m = min(_DOCMAP_CHUNK, n - lo)
        sl = seg.slice(lo, m)
        cols = [
            pa.array([segment_id] * m, pa.string()),
            pa.array([KIND_DOCMAP] * m, pa.string()),
            pa.nulls(m, pa.string()),   # field
            pa.nulls(m, pa.string()),   # term
            pa.nulls(m, pa.int64()),    # doc_freq
            pa.nulls(m, pa.binary()),   # payload1
            pa.nulls(m, pa.binary()),   # payload2
            pa.nulls(m, pa.binary()),   # block_last
            pa.nulls(m, pa.binary()),   # block_max
            pa.nulls(m, pa.string()),   # meta
        ]
        for name, t in extra_types:
            if name == "doc_id":
                cols.append(pa.array(np.arange(lo, lo + m, dtype=np.int32)))
            else:
                src = doc_key if name == "doc_key" else name
                cols.append(sl.column(src))
        # pa.table tolerates mixed Array/ChunkedArray columns;
        # to_batches re-chunks them into aligned RecordBatches zero-copy
        yield from pa.table(dict(zip(names, cols))).to_batches()


def _make_build_fn_arrow(config: IndexConfig, job_id: str):
    """mapInArrow segment builder: one physical partition may carry
    several routing pids (hash collisions after `repartition(n, _pid)`);
    rows are sorted (pid, doc_key) Arrow-side and sliced per pid — text
    NEVER becomes Python objects (the pandas round-trip both
    materializes per-row strings and re-serializes them, which is pure
    overhead at 32-way concurrency)."""
    doc_key = config.doc_key
    fields = config.fields
    k1, b = config.k1, config.b
    time_col = config.time_column
    stored_cols = list(config.stored_columns)
    extra_names = ["doc_id", "doc_key"] + stored_cols
    if time_col and time_col not in stored_cols:
        extra_names.append(time_col)

    def build(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        blist = list(batches)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        # docmap-only output columns: types taken from the INPUT arrow
        # schema so they round-trip to Spark exactly (timestamps keep
        # their tz/unit, lists their element type)
        extra_types = [
            (
                name,
                pa.int32()
                if name == "doc_id"
                else tbl.schema.field(
                    doc_key if name == "doc_key" else name
                ).type,
            )
            for name in extra_names
        ]
        pids = tbl.column("_pid").to_numpy()
        keys = tbl.column(doc_key).to_numpy()
        # the caller feeds repartition+sortWithinPartitions output, so
        # this is normally a no-op check; sort only if actually needed
        pid_ok = bool((pids[1:] >= pids[:-1]).all())
        if not (
            pid_ok
            and bool(
                ((pids[1:] != pids[:-1]) | (keys[1:] >= keys[:-1])).all()
            )
        ):
            idx = pc.sort_indices(
                tbl, sort_keys=[("_pid", "ascending"), (doc_key, "ascending")]
            )
            tbl = tbl.take(idx)
            pids = tbl.column("_pid").to_numpy()
        bounds = np.concatenate(
            ([0], np.flatnonzero(pids[1:] != pids[:-1]) + 1, [len(pids)])
        )
        for si in range(len(bounds) - 1):
            start, end = int(bounds[si]), int(bounds[si + 1])
            t0 = time.perf_counter()
            pid = int(pids[start])
            segment_id = f"{job_id}-p{pid:05d}"
            seg = tbl.slice(start, end - start)
            all_rows: list[dict] = []
            field_stats = {}
            for fld in fields:
                if fld.sources:
                    # concatenate field: each source VALUE is analyzed
                    # separately with the concat field's tokenizer and
                    # the token streams union under the virtual field —
                    # reference `field_mapping_entry.rs:355-364` (a raw
                    # concat of 'AB-CD' and 'EF-GH' indexes two tokens,
                    # never one joined line; cross-source phrases can't
                    # match). Shape: a fixed-size list per doc feeding
                    # the multivalued tokenize path.
                    parts = []
                    for s in fld.sources:
                        col = seg.column(s).combine_chunks()
                        if pa.types.is_list(col.type) or pa.types.is_large_list(
                            col.type
                        ):
                            # array source contributes its elements —
                            # harmless flatten-to-string here (rare)
                            col = pc.binary_join(
                                pc.cast(col, pa.list_(pa.string())), " "
                            )
                        else:
                            # Arrow casts bool→"true"/"false", numbers to
                            # their canonical decimal form — the same term
                            # strings the reference's concat indexes
                            col = pc.cast(col, pa.string())
                        parts.append(col)
                    if len(parts) == 1:
                        texts = parts[0]
                    else:
                        nseg, ksrc = len(seg), len(parts)
                        # row-major (doc, source) list array, NULL source
                        # values dropped — a missing source contributes
                        # no token (raw would otherwise index "")
                        valid = np.column_stack(
                            [
                                p.is_valid().to_numpy(zero_copy_only=False)
                                for p in parts
                            ]
                        )
                        col_major = pa.concat_arrays(
                            [p.cast(pa.string()) for p in parts]
                        )
                        row_major_idx = (
                            np.arange(ksrc)[None, :] * nseg
                            + np.arange(nseg)[:, None]
                        )
                        take_idx = row_major_idx[valid]
                        offsets = np.concatenate(
                            ([0], np.cumsum(valid.sum(axis=1)))
                        ).astype(np.int32)
                        texts = pa.ListArray.from_arrays(
                            pa.array(offsets, pa.int32()),
                            pc.take(col_major, pa.array(take_idx, pa.int64())),
                        )
                else:
                    texts = seg.column(fld.column or fld.name)
                rows, stats = _build_field_rows(
                    segment_id, fld, texts, k1, b,
                    postings_codec=config.postings_codec,
                    custom_tokenizers=config.tokenizers,
                )
                all_rows.extend(rows)
                field_stats[fld.name] = stats
            time_range = None
            if time_col is not None:
                tsv = (
                    seg.column(time_col)
                    .cast(pa.timestamp("us"))
                    .combine_chunks()
                    .to_numpy(zero_copy_only=False)  # nulls force a copy
                    .astype("datetime64[us]")
                )
                tsv = tsv[~np.isnat(tsv)].astype(np.int64)  # NaT would
                # poison min/max with int64-min and mis-prune the segment
                if tsv.size:
                    time_range = [int(tsv.min()), int(tsv.max())]
            # per-segment tag sets (reference: SplitMetadata.tags) —
            # `field!` marks the field recorded; dropped entirely when
            # the value set blows the cardinality cap, which disables
            # pruning on this field for this segment only
            tags: list[str] = []
            for tf in config.tag_fields:
                vals = pc.unique(pc.drop_null(seg.column(tf))).cast(pa.string())
                if len(vals) <= config.max_tags_per_field:
                    tags.append(f"{tf}!")
                    tags.extend(f"{tf}:{v}" for v in vals.to_pylist())
            keys = seg.column(doc_key)
            seg_meta = {
                "num_docs": end - start,
                # input routing: partition_id 0 for every segment (the
                # reference's no-partition_key default) so the merge
                # policy groups all of them; pid still names the segment
                "partition_id": 0 if config.routing == "input" else pid,
                "field_stats": field_stats,
                "time_range": time_range,
                "tags": sorted(tags),
                # numeric keys record int bounds; string keys (e.g. a
                # url doc_key) record the raw strings — the manifest
                # values are informational, so the type follows the key
                "min_key": _key_bound(keys[0].as_py()),
                "max_key": _key_bound(keys[-1].as_py()),
                "build_secs": round(time.perf_counter() - t0, 4),
            }
            all_rows.append(
                {
                    "segment_id": segment_id,
                    "kind": KIND_SEG,
                    "field": "",
                    "term": "",
                    "doc_freq": end - start,
                    "payload1": b"",
                    "payload2": b"",
                    "block_last": b"",
                    "block_max": b"",
                    "meta": json.dumps(seg_meta, sort_keys=True),
                }
            )
            yield _rows_to_batch(all_rows, extra_types)
            yield from _docmap_batches(segment_id, seg, doc_key, extra_types)

    return build


def _batch_ranges(num_partitions: int, num_batches: int) -> list[tuple[int, int]]:
    """Contiguous pid ranges, one per batch (lineage unit)."""
    num_batches = min(num_batches, num_partitions)
    bounds = np.linspace(0, num_partitions, num_batches + 1).astype(int)
    return [(int(bounds[i]), int(bounds[i + 1])) for i in range(num_batches)]


def _clearly_large(bdf: DataFrame, fraction: float) -> bool:
    """Zero-job pre-check before the probe: the optimizer's size
    estimate of the batch's sources, times the batch's share of the
    pids, is past 32 × `_LOCAL_MAX_BYTES`. Filters do not shrink the
    estimate, so the margin keeps a small filtered batch of a large
    source on the probe; past it the probe (one scan of up to
    `_LOCAL_MAX_DOCS + 1` rows a partition) is skipped. An unknown
    estimate (Spark's default size, e.g. an RDD source) is not large."""
    jvm = bdf.sparkSession._jvm
    est = int(str(bdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    unknown = int(jvm.org.apache.spark.sql.internal.SQLConf.get().defaultSizeInBytes())
    return est < unknown and est * fraction > 32 * _LOCAL_MAX_BYTES


def _arrow_bytes(field) -> Column:
    """Estimated Arrow bytes of one column value: the UTF-8/byte length
    plus an offset for strings and binaries, the text form's length for
    nested types, 8 bytes otherwise."""
    c = F.col(f"`{field.name}`")
    t = field.dataType
    if isinstance(t, (StringType, BinaryType)):
        return F.coalesce(F.octet_length(c), F.lit(0)) + 4
    if isinstance(t, (ArrayType, MapType, StructType)):
        return F.coalesce(F.octet_length(c.cast("string")), F.lit(0))
    return F.lit(8)


def _probe_local(bdf: DataFrame):
    """The batch's rows as one Arrow table when they fit the driver
    transport, else None. A first query ships only the estimated Arrow
    bytes of at most `_LOCAL_MAX_DOCS + 1` rows (8 bytes a row), so a
    large batch never sends its data to the driver; only a batch within
    both bounds is then collected. A collect that overflows
    `spark.driver.maxResultSize` means the batch is large."""
    if _LOCAL_MAX_DOCS <= 0:
        return None
    import pyarrow.compute as pc

    size = sum((_arrow_bytes(f) for f in bdf.schema.fields), F.lit(0))
    try:
        sizes = bdf.limit(_LOCAL_MAX_DOCS + 1).select(size.alias("b")).toArrow()
        if sizes.num_rows > _LOCAL_MAX_DOCS or (
            sizes.num_rows and pc.sum(sizes.column("b")).as_py() > _LOCAL_MAX_BYTES
        ):
            return None
        tbl = bdf.limit(_LOCAL_MAX_DOCS + 1).toArrow()
    except Exception as e:  # noqa: BLE001 — only the result-size abort
        if "maxResultSize" not in str(e):
            raise
        return None
    # a source that is not deterministic may have grown in between
    return tbl if tbl.num_rows <= _LOCAL_MAX_DOCS else None


def _replace_dir(src: str | None, dst: str) -> None:
    """Move `src` to `dst`, replacing whatever a crashed earlier run of
    the batch left there (the Spark write's dynamic partition
    overwrite); with `src` None only the old `dst` goes."""
    if os.path.exists(dst):
        shutil.rmtree(dst)
    if src is not None:
        os.rename(src, dst)


def _build_local(tbl, build_fn, schema, inv_dir: str, docs_dir: str,
                 batch_id: str, int96: bool):
    """Driver transport of one batch: the `build` generator over the
    probed rows (it sorts them by (`_pid`, doc_key)), then one pyarrow
    file per `kind` written into hidden temp dirs (Spark and pyarrow
    dataset listings skip `.` names) and renamed into `inv/batch_id=…/kind=…/` and `docs/batch_id=…`.
    Timestamps are written as INT96 like Spark's default, so both
    transports' files read back with the same types.
    Returns (kind=seg rows, build secs, write secs)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    by_kind: dict[str, list] = {}
    for rb in build_fn(tbl.to_batches()):
        t = pa.Table.from_batches([rb]).cast(schema)
        kinds = pc.unique(t.column("kind")).to_pylist()
        for k in kinds:
            part = t if len(kinds) == 1 else t.filter(pc.equal(t.column("kind"), k))
            by_kind.setdefault(k, []).append(part.drop_columns(["kind"]))
    t1 = time.perf_counter()

    # leftovers of an earlier run of this batch that crashed mid-write
    for base in (inv_dir, docs_dir):
        if os.path.isdir(base):
            for e in os.listdir(base):
                if e.startswith(f".tmp-{batch_id}-"):
                    shutil.rmtree(os.path.join(base, e), ignore_errors=True)
    tag = uuid.uuid4().hex
    tmp_inv = f"{inv_dir}/.tmp-{batch_id}-{tag}"
    tmp_docs = f"{docs_dir}/.tmp-{batch_id}-{tag}"
    for k, parts in by_kind.items():
        d = tmp_docs if k == KIND_DOCMAP else f"{tmp_inv}/kind={k}"
        os.makedirs(d)
        pq.write_table(
            pa.concat_tables(parts),
            f"{d}/part-00000-{tag}.c000.snappy.parquet",
            use_deprecated_int96_timestamps=int96,
            store_schema=False,
        )
    _replace_dir(tmp_docs if KIND_DOCMAP in by_kind else None,
                 f"{docs_dir}/batch_id={batch_id}")
    _replace_dir(tmp_inv if len(by_kind.keys() - {KIND_DOCMAP}) else None,
                 f"{inv_dir}/batch_id={batch_id}")
    seg = (
        pa.concat_tables(by_kind[KIND_SEG]).select(["segment_id", "meta"]).to_pylist()
        if KIND_SEG in by_kind
        else []
    )
    return seg, t1 - t0, time.perf_counter() - t1


def _segment_records(seg_rows: list[dict], batch_id: str, pid_range: list,
                     doc_mapping_uid: int) -> list[mf.SegmentRecord]:
    """Manifest records of one batch from its kind=seg rows."""
    records = []
    for r in sorted(seg_rows, key=lambda r: r["segment_id"]):
        m = json.loads(r["meta"])
        records.append(
            mf.SegmentRecord(
                segment_id=r["segment_id"],
                state=mf.PUBLISHED,
                partition_id=m["partition_id"],
                num_docs=m["num_docs"],
                field_stats=m["field_stats"],
                lineage={"batch_id": batch_id, "pid_range": pid_range},
                time_range=m["time_range"],
                tags=m.get("tags") or [],
                merge_gen=0,
                doc_mapping_uid=doc_mapping_uid,
                metrics={"build_secs": m["build_secs"]},
            )
        )
    return records


def _is_additive_extension(old: IndexConfig, new: IndexConfig) -> bool:
    """True iff `new` only ADDS fields/options/stored columns to `old`
    — every old entry reappears byte-identical and all scalar knobs
    match (doc mapping evolution in dynamic mode; the reference's
    per-split mapping growth)."""
    old_d = json.loads(old.to_json())
    new_d = json.loads(new.to_json())
    for key in old_d:
        if key in ("fields", "stored_columns", "field_options"):
            continue
        if old_d[key] != new_d[key]:
            return False
    new_fields = {f["name"]: f for f in new_d["fields"]}
    for f in old_d["fields"]:
        if new_fields.get(f["name"]) != f:
            return False
    if not set(old_d["stored_columns"]) <= set(new_d["stored_columns"]):
        return False
    for path, opt in (old_d.get("field_options") or {}).items():
        if (new_d.get("field_options") or {}).get(path) != opt:
            return False
    return True


def config_path(index_dir: str, doc_mapping_uid: int = 0) -> str:
    """Per-generation persisted config: generation 0 keeps the original
    name (existing indexes stay readable), later generations get their
    own snapshot so searchers can build old-type -> new-type converters
    (reference: each split records its `doc_mapping_uid` and the
    metastore keeps every doc mapping version)."""
    if doc_mapping_uid:
        return f"{index_dir}/_manifest/index_config.uid{doc_mapping_uid}.json"
    return f"{index_dir}/_manifest/index_config.json"


def docs_path(index_dir: str, doc_mapping_uid: int = 0) -> str:
    """Docmap dataset dir for one doc-mapping generation. Generations
    are SEPARATE parquet datasets: a non-additive mapping update may
    retype a stored column (long -> string), which a single dataset
    cannot schema-merge; searchers read each generation with its own
    schema and convert to the current types (engine `_refresh`)."""
    if doc_mapping_uid:
        return f"{index_dir}/docs_uid{doc_mapping_uid}"
    return f"{index_dir}/docs"


# ---------------------------------------------------------- read schemas
#
# Readers open the datasets with fixed Spark schemas instead of
# inferring them from parquet footers: inference is a Spark job per
# dataset on every open and refresh. The reference likewise opens a
# split from metadata written when it was published, never from the
# files themselves. inv/ has one fixed schema; each docs generation's
# schema is recorded by the builder next to its index config.

INV_READ_SCHEMA = INV_SCHEMA + ", batch_id string"


def docs_schema_path(index_dir: str, doc_mapping_uid: int = 0) -> str:
    """The recorded Spark read schema of one docs generation."""
    if doc_mapping_uid:
        return f"{index_dir}/_manifest/docs_schema.uid{doc_mapping_uid}.json"
    return f"{index_dir}/_manifest/docs_schema.json"


def load_docs_schema(index_dir: str, doc_mapping_uid: int = 0) -> StructType | None:
    """The recorded docs read schema, or None for an index written
    before schemas were recorded."""
    p = docs_schema_path(index_dir, doc_mapping_uid)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return StructType.fromJson(json.load(f))


def read_inv(spark: SparkSession, index_dir: str) -> DataFrame:
    """The inverted-index dataset, projected to `_INV_COLUMNS`. The
    docmap columns builder-written inv files also carry (all-null
    there) are never read: a later doc-mapping generation may retype
    them."""
    return (
        spark.read.schema(INV_READ_SCHEMA)
        .parquet(f"{index_dir}/inv")
        .select(*_INV_COLUMNS)
    )


def read_docs(spark: SparkSession, index_dir: str, doc_mapping_uid: int = 0) -> DataFrame:
    """One docs generation: segment_id, doc_id, doc_key, the stored and
    time columns, batch_id. Batches that lack a column added later read
    it as null. An index without a recorded schema infers it by merging
    every file's footer (one Spark job) and hides the all-null
    inverted-index columns of builder-written files."""
    path = docs_path(index_dir, doc_mapping_uid)
    schema = load_docs_schema(index_dir, doc_mapping_uid)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .drop(*[c for c in _INV_COLUMNS if c != "segment_id"])
    )


def _nullable(t: DataType) -> DataType:
    """`t` with every field, element and value nullable, as Spark reads
    parquet."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType))
    return t


def _merge_type(old: DataType, new: DataType, path: str) -> DataType:
    """`old` widened by the fields `new` adds, recursively (Spark's
    parquet schema merge); any other difference is a retype."""
    if isinstance(old, StructType) and isinstance(new, StructType):
        return _merge_fields(old.fields, new.fields, f"{path}.")
    if isinstance(old, ArrayType) and isinstance(new, ArrayType):
        return ArrayType(_merge_type(old.elementType, new.elementType, path))
    if isinstance(old, MapType) and isinstance(new, MapType):
        return MapType(
            _merge_type(old.keyType, new.keyType, path),
            _merge_type(old.valueType, new.valueType, path),
        )
    if old != new:
        raise ValueError(
            f"column {path!r} is {old.simpleString()} in this index but "
            f"{new.simpleString()} in the new batch; a column keeps its "
            "type (retyping needs a doc-mapping update)"
        )
    return old


def _merge_fields(old: list, new: list, prefix: str = "") -> StructType:
    """`old` fields in place (widened), then the fields only `new` has."""
    new_by_name = {f.name: f for f in new}
    old_names = {f.name for f in old}
    out = [
        StructField(
            f.name,
            _merge_type(f.dataType, new_by_name[f.name].dataType, prefix + f.name)
            if f.name in new_by_name
            else f.dataType,
        )
        for f in old
    ]
    return StructType(out + [f for f in new if f.name not in old_names])


def _docs_schema(spark, index_dir: str, doc_mapping_uid: int,
                 docmap_cols: list, df_schema: StructType):
    """(merged docs read schema, whether it differs from the recorded
    one) for a batch whose docmap columns are `docmap_cols` ((name,
    source column) pairs). A generation written before schemas were
    recorded starts from its inferred schema, so the record also covers
    its older batches. Raises ValueError when the batch retypes a
    column."""
    recorded = load_docs_schema(index_dir, doc_mapping_uid)
    base = recorded
    if base is None and glob.glob(f"{docs_path(index_dir, doc_mapping_uid)}/*/*.parquet"):
        base = read_docs(spark, index_dir, doc_mapping_uid).schema
    batch = [StructField("segment_id", StringType())] + [
        StructField(n, IntegerType() if n == "doc_id" else _nullable(df_schema[src].dataType))
        for n, src in docmap_cols
    ]
    old = [f for f in (base.fields if base is not None else []) if f.name != "batch_id"]
    merged = _merge_fields(old, batch)
    merged = StructType(merged.fields + [StructField("batch_id", StringType())])
    return merged, recorded is None or merged != recorded


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    config: IndexConfig,
    job_id: str = "job0",
    num_batches: int = 1,
    fail_after_batch: int | None = None,
    transform=None,
    doc_mapping_uid: int = 0,
) -> list[mf.SegmentRecord]:
    """Build (or resume building) an index from `df`.

    `num_batches` splits the partition range into sequentially committed
    lineage units; a killed job resumes by skipping batches whose
    checkpoint is already in the manifest (the reference's
    SourceCheckpoint/publish protocol, `checkpoint.rs:368-440`).
    `fail_after_batch` injects a crash for the resume test.
    `transform` is an optional `sources.transform.Transform` (the VRL
    processing hook, `vrl_processing.rs`) applied before doc mapping.
    """
    # NOTE: dynamic partition overwrite is set PER WRITE below (a
    # DataFrameWriter option), never on the shared session conf — a
    # library call must not silently change the semantics of the
    # caller's own unrelated overwrite writes
    # tag pruning records RAW column values while query-side extraction
    # uses term/token values — sound only when the two coincide, i.e.
    # the tag field is unindexed (a fast column) or indexed `raw`.
    # An analyzed tag field would record 'Hello World' but be queried
    # as 'hello' → a present `field!` marker with absent value tags
    # would wrongly prune matching segments.
    analyzed = {
        f.name for f in config.fields if f.tokenizer != "raw" and not f.sources
    }
    bad = [t for t in config.tag_fields if t in analyzed]
    if bad:
        raise ValueError(
            f"tag_fields {bad} are indexed with an analyzing tokenizer; "
            "tag pruning requires unindexed or raw-tokenizer fields"
        )
    # validate the config BEFORE persisting it: a rejected config must
    # never reach index_config.json (it would brick subsequent builds —
    # the stored config would no longer match any valid retry)
    if config.routing not in ("hash", "input"):
        raise ValueError(
            f"unknown routing {config.routing!r}; expected 'hash' or 'input'"
        )
    bad_cols = [
        c
        for c in (*config.stored_columns, config.time_column or "")
        if c in RESERVED_COLUMNS
    ]
    if bad_cols:
        raise ValueError(
            f"stored/time columns {bad_cols} collide with reserved "
            f"index column names {sorted(RESERVED_COLUMNS)}"
        )
    # building into an existing index MUST reuse the identical config —
    # otherwise new segments would be tokenized/encoded under one config
    # while searchers read another (checked BEFORE any segment publishes)
    _cfg_path = config_path(index_dir, doc_mapping_uid)
    write_cfg = not os.path.exists(_cfg_path)
    if not write_cfg:
        with open(_cfg_path) as _f:
            stored = _f.read()
        # compare NORMALIZED configs (round-trip fills defaults) so an
        # index built before a config field existed stays compatible
        # when that field is at its default; an unparseable stored
        # config (corrupt, or written by a newer version with unknown
        # fields) is a mismatch, not a crash
        try:
            stored_cfg = IndexConfig.from_json(stored)
            stored_norm = stored_cfg.to_json()
        except (TypeError, KeyError, ValueError):
            stored_cfg, stored_norm = None, None
        if stored_norm != config.to_json():
            # ADDITIVE dynamic evolution is allowed (the reference's
            # dynamic mapping grows per split: new fields appear in new
            # splits, old splits simply hold no postings/columns for
            # them): every stored field/option/stored-column must
            # reappear IDENTICALLY; everything else must match. Any
            # change to an existing field is still a refusal.
            if stored_cfg is None or not _is_additive_extension(
                stored_cfg, config
            ):
                raise ValueError(
                    f"index at {index_dir} was built with a different "
                    "config; refusing to mix configs (only additive "
                    "field additions are allowed)"
                )
            write_cfg = True
    if transform is not None:
        df = transform(df)
    if config.time_column is not None:
        # the reference REJECTS documents missing the declared timestamp
        # field at ingest (doc processor parse failure; the tag_fields /
        # qw_search_api scenarios count on those docs being absent)
        df = df.filter(F.col(config.time_column).isNotNull())
    # docmap output columns (name, source column): doc_id is positional
    docmap_cols = [("doc_id", None), ("doc_key", config.doc_key)]
    docmap_cols += [(c, c) for c in config.stored_columns]
    if config.time_column and config.time_column not in config.stored_columns:
        docmap_cols.append((config.time_column, config.time_column))
    # raises on a retyped column, before anything is written
    docs_schema, docs_schema_changed = _docs_schema(
        spark, index_dir, doc_mapping_uid, docmap_cols, df.schema
    )
    if write_cfg:
        # persist BEFORE any batch commits (validated above): with the
        # old persist-after-success order, a crash between the first
        # batch commit and the config write let a retry with a
        # DIFFERENT config pass the guard — mixing analyzers/codecs
        # across segments of one index with no error
        _write_atomic(_cfg_path, config.to_json())
    if docs_schema_changed:
        # before any batch commits, so a searcher that sees a segment
        # always reads its columns
        _write_atomic(
            docs_schema_path(index_dir, doc_mapping_uid), docs_schema.json()
        )
    inv_dir = f"{index_dir}/inv"
    docs_dir = docs_path(index_dir, doc_mapping_uid)

    done = mf.committed_checkpoints(index_dir, kind="build")
    if config.routing == "input":
        # zero-shuffle ingest: each input partition IS a segment, docs
        # in arrival order — the reference's default pipeline shape.
        # Lineage is one batch (input partitioning is not stable across
        # reruns, so pid-range sub-batches would not resume safely).
        if num_batches != 1:
            raise ValueError("routing='input' supports num_batches=1 only")
        df = df.withColumn("_pid", F.spark_partition_id())
    else:
        routing = config.routing_column or config.doc_key
        df = df.withColumn(
            "_pid",
            F.pmod(
                F.xxhash64(F.col(routing)), F.lit(config.num_partitions)
            ).cast("int"),
        )
    build_fn = _make_build_fn_arrow(config, job_id)
    # unified mapInArrow output schema: inverted-index columns + the
    # typed docmap columns (doc_id, doc_key, stored, time)
    extra_ddl = [("doc_id", "int")] + [
        (n, df.schema[c].dataType.simpleString()) for n, c in docmap_cols[1:]
    ]
    out_schema = INV_SCHEMA + ", " + ", ".join(f"`{n}` {t}" for n, t in extra_ddl)
    # the driver transport casts to the Arrow schema mapInArrow declares
    local_schema = to_arrow_schema(StructType.fromDDL(out_schema))
    all_records: list[mf.SegmentRecord] = []
    for bi, (lo, hi) in enumerate(_batch_ranges(config.num_partitions, num_batches)):
        batch_id = f"{job_id}-b{bi:04d}"
        if batch_id in done:
            # resume must cover the SAME partition ranges: skipping by
            # batch_id alone would let a retry with a different
            # num_batches re-index pids the committed batch already
            # covers (duplicate PUBLISHED segment_ids, doubled hits)
            prev_range = (done[batch_id] or {}).get("pid_range")
            if prev_range is not None and list(prev_range) != [lo, hi]:
                raise ValueError(
                    f"resume of job {job_id!r} batch {batch_id} covers "
                    f"pid_range {[lo, hi]} but the committed checkpoint "
                    f"recorded {prev_range}; rerun with the original "
                    "num_batches"
                )
            continue
        t0 = time.perf_counter()
        stages: dict = {}
        local = None
        # input routing stays on Spark: its segments ARE the input
        # partitions
        if config.routing != "input":
            bdf = df.filter((F.col("_pid") >= lo) & (F.col("_pid") < hi))
            if not _clearly_large(bdf, (hi - lo) / config.num_partitions):
                local = _probe_local(bdf)
                stages["probe"] = round(time.perf_counter() - t0, 4)
        if local is not None:
            seg_meta, b_s, w_s = _build_local(
                local, build_fn, local_schema, inv_dir, docs_dir, batch_id,
                int96="timestamp_ntz" not in out_schema,
            )
            stages.update(build=round(b_s, 4), write=round(w_s, 4))
        else:
            # ONE pass over the corpus: (optionally) shuffle on pid +
            # in-partition sort → mapInArrow emits postings AND docmap
            # rows (unified schema) → one write. No persist (at 100 TB,
            # materializing the corpus a second time was the dominant
            # non-kernel cost), no window.
            t1 = time.perf_counter()
            if config.routing == "input":
                # no exchange at all: sortWithinPartitions is narrow,
                # _pid is constant inside each partition
                part = df.sortWithinPartitions(config.doc_key)
            else:
                part = bdf.repartition(hi - lo, "_pid").sortWithinPartitions(
                    "_pid", config.doc_key
                )
            out = part.mapInArrow(build_fn, out_schema)
            (
                out.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id", "kind")
                .parquet(inv_dir)
            )
            # relocate the docmap partition into the docs dataset — a
            # driver-side metadata rename (O(1) on a filesystem; on an
            # object store this would be the Hadoop FileSystem.rename of
            # one directory). Idempotent: a rerun of a crashed batch
            # rewrites kind=docmap above and replaces the destination.
            src = f"{inv_dir}/batch_id={batch_id}/kind={KIND_DOCMAP}"
            if os.path.exists(src):
                os.makedirs(docs_dir, exist_ok=True)
                _replace_dir(src, f"{docs_dir}/batch_id={batch_id}")
            t2 = time.perf_counter()
            # the tiny seg-meta rows → manifest records, read with
            # pyarrow from the partition directory (no Spark job, no
            # listing of the whole inv dataset). An EMPTY input writes
            # no partitions at all — a valid zero-segment batch (the
            # reference publishes an empty index the same way).
            import pyarrow.parquet as pq

            seg_dir = f"{inv_dir}/batch_id={batch_id}/kind={KIND_SEG}"
            seg_meta = (
                pq.read_table(seg_dir, columns=["segment_id", "meta"]).to_pylist()
                if os.path.exists(seg_dir)
                else []
            )
            stages.update(
                build_write=round(t2 - t1, 4),
                read_meta=round(time.perf_counter() - t2, 4),
            )
        build_secs = time.perf_counter() - t0
        records = _segment_records(seg_meta, batch_id, [lo, hi], doc_mapping_uid)
        total_docs = sum(r.num_docs for r in records)
        mf.commit(
            index_dir,
            records,
            checkpoint={
                batch_id: {
                    "pid_range": [lo, hi],
                    "docs": total_docs,
                    "docs_per_sec": round(total_docs / max(build_secs, 1e-9), 2),
                    "transport": "spark" if local is None else "driver",
                    "stage_secs": stages,
                }
            },
            kind="build",
        )
        all_records.extend(records)
        if fail_after_batch is not None and bi >= fail_after_batch:
            raise RuntimeError(f"injected failure after batch {batch_id}")
    return all_records


def _write_atomic(path: str, text: str) -> None:
    """tmp+rename like mf.commit: a concurrent searcher re-reading the
    config or the read schema must never observe a truncated/partial
    file (a plain open('w') truncates before writing)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), f".tmp-{os.path.basename(path)}")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
