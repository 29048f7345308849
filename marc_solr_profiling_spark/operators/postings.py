"""Inverted-index construction: tokens -> term frequencies -> doc/collection
statistics -> (physical layer in varbyte.py / segments.py).

The logical build mirrors what Lucene derives implicitly inside Solr when the
reference posts a document (``SolrProxy.addDoc`` ->
Lucene analysis+segment write, ``core/src/org/solrmarc/solr/
SolrServerProxy.java:31-50``; analysis chain ``profiling/solr/conf/
schema.xml:60-71``): per-doc term frequencies, document lengths, collection
stats (N, avgdl), document frequencies.

Scale notes (100 TB design point):
- tokenization is per-row, shuffle-free; Arrow-batched pandas UDF for the
  full chain, pure JVM regexp for the ``simple`` chain.
- term_freqs aggregates (term, doc) pairs: Spark's partial (map-side)
  aggregation collapses within-doc duplicates BEFORE the shuffle, so shuffle
  volume is bounded by distinct (term,doc) pairs, not token count. We emit
  (term, doc, tf) by exploding per-doc counted maps instead of exploding raw
  tokens — the per-doc count happens inside the row (no shuffle at all for
  the tf step), which is the map-side-combine the reference gets for free
  from Lucene's per-doc inverter.
- doc stats never shuffle (per-row size()).
- document frequency / collection frequency is one groupBy(term); hot terms
  (stopwords, Zipf head) are exact-count aggregations that AQE handles, but
  the *posting-list materialization* for hot terms is the real skew problem —
  handled by salted sub-blocks in segments.py, not here.
"""

from __future__ import annotations

from itertools import chain as _iterchain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import simple_tokens_expr, tokenize_udf

DEFAULT_CHAIN = "text"


def with_tokens(docs: DataFrame, text_col: str = "text",
                chain: str = DEFAULT_CHAIN, out_col: str = "tokens") -> DataFrame:
    """Add an ``array<string>`` tokens column using the given analyzer chain.

    ``simple`` stays entirely JVM-side (whole-stage codegen); the full
    ``text``/``textNoStem`` chains go through the Arrow-batched pandas UDF.
    """
    if chain == "simple":
        return docs.withColumn(out_col, simple_tokens_expr(text_col))
    return docs.withColumn(out_col, tokenize_udf(chain)(F.col(text_col)))


def term_freqs(docs_with_tokens: DataFrame, key_col: str = "url",
               tokens_col: str = "tokens") -> DataFrame:
    """(term, <key>, tf) — one row per distinct term per doc.

    explode + groupBy(key, term): Spark's partial (map-side) hash
    aggregation collapses a document's repeated tokens BEFORE the shuffle —
    all tokens of one doc live in one input partition, so the shuffled
    volume is exactly the distinct (term, doc) pairs, the same as Lucene's
    per-doc inverter emits. The explode itself is pipelined inside
    whole-stage codegen (no materialization of the token rows).
    """
    return (
        docs_with_tokens
        .select(key_col, F.explode(tokens_col).alias("term"))
        .groupBy("term", key_col)
        .agg(F.count("*").cast("int").alias("tf"))
    )


def tokenize_and_count(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    chain: str = DEFAULT_CHAIN,
    html_col: str | None = None,
    positions: bool = False,
) -> DataFrame:
    """Fused analyze+count: raw text in, (term, key, doc_len, tf) out, in a
    SINGLE mapInPandas pass — token arrays never cross the Arrow boundary
    (they are born and counted inside one Python worker), which at web scale
    halves the dominant string-serialization cost of the build.

    ``html_col``: when given, HTML→text extraction fuses into the SAME
    kernel (``text_col`` is ignored): raw html bytes cross into Python
    once, the extracted text never serializes back to the JVM, and each
    task drives ONE Python worker instead of two (a separate extract UDF
    chains a second PythonRunner per task — at full cluster width that is
    3 concurrent processes per core slot: JVM thread + 2 workers).

    Docs that analyze to zero tokens emit one sentinel row
    ``(term=NULL, key, doc_len=0, tf=0)`` so the doc-side table (and N,
    avgdl) can be derived from this output alone; posting consumers filter
    ``term IS NOT NULL``.

    ``positions=True`` adds a ``pos binary`` column: the 1-based token
    offsets of the term's occurrences in the doc, delta+varbyte coded
    (Lucene's .pos payload, already wire-compressed here so the only
    build shuffle moves bytes, not int arrays). Offsets are computed
    from the SAME flat token array the tf counting uses — one extra
    arange + the shared encode pass, no second tokenization.
    """
    import numpy as np
    import pandas as pd

    from ..functions.analyzer import ANALYZERS
    from ..sources.html import extract_text_from_html

    analyze = ANALYZERS[chain]
    schema = f"term string, {key_col} long, doc_len int, tf int"
    if positions:
        schema += ", pos binary"
    in_col = html_col if html_col is not None else text_col

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if html_col is not None:
                token_lists = [
                    analyze(extract_text_from_html(h)) for h in pdf[in_col]
                ]
            else:
                token_lists = [analyze(t) for t in pdf[in_col]]
            lens = np.fromiter(
                (len(t) for t in token_lists), dtype=np.int64,
                count=len(token_lists),
            )
            keys_all = pdf[key_col].to_numpy()
            nz = lens > 0
            frames = []
            if nz.any():
                nzlens = lens[nz]
                flat = np.fromiter(
                    _iterchain.from_iterable(
                        t for t, ok in zip(token_lists, nz) if ok),
                    dtype=object, count=int(nzlens.sum()),
                )
                keys = np.repeat(keys_all[nz], nzlens)
                dls = np.repeat(nzlens, nzlens)
                codes, uniques = pd.factorize(flat)
                # batch-contiguous docs: key codes are the nz ordinals
                kcodes = np.repeat(
                    np.arange(int(nz.sum()), dtype=np.int64), nzlens)
                pair = kcodes * len(uniques) + codes
                order = np.argsort(pair, kind="stable")
                ps = pair[order]
                change = np.ones(ps.size, dtype=bool)
                change[1:] = ps[1:] != ps[:-1]
                starts = np.flatnonzero(change)
                tf = np.diff(np.append(starts, ps.size)).astype(np.int32)
                sel = order[starts]
                data = {
                    "term": uniques[codes[sel]],
                    key_col: keys[sel],
                    "doc_len": dls[sel].astype(np.int32),
                    "tf": tf,
                }
                if positions:
                    from .varbyte import (delta_gaps_blocked,
                                          varbyte_encode_sliced)

                    # 1-based offset of each flat token within its doc
                    doc_offs = np.repeat(
                        np.concatenate(([0], np.cumsum(lens[nz])[:-1])),
                        lens[nz],
                    )
                    pos_all = (
                        np.arange(flat.size, dtype=np.int64) - doc_offs + 1
                    )
                    # stable sort on (doc, term) keeps flat order inside
                    # each group, so per-posting positions stay ascending
                    pos_sorted = pos_all[order].astype(np.uint64)
                    ends = np.append(starts[1:], ps.size)
                    gaps = delta_gaps_blocked(pos_sorted, starts)
                    data["pos"] = varbyte_encode_sliced(gaps, starts, ends)
                frames.append(pd.DataFrame(data))
            if (~nz).any():
                empty_keys = keys_all[~nz]
                sentinel = {
                    "term": np.full(empty_keys.size, None, dtype=object),
                    key_col: empty_keys,
                    "doc_len": np.zeros(empty_keys.size, np.int32),
                    "tf": np.zeros(empty_keys.size, np.int32),
                }
                if positions:
                    sentinel["pos"] = [b""] * empty_keys.size
                frames.append(pd.DataFrame(sentinel))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return docs.select(key_col, in_col).mapInPandas(kernel, schema=schema)


def tokenize_and_count_packed(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    chain: str = DEFAULT_CHAIN,
    html_col: str | None = None,
    positions: bool = False,
    carry=(),
) -> DataFrame:
    """Fused analyze+count emitting ONE ROW PER DOCUMENT:

        (key, doc_len, terms: array<string>, tfs: array<int>
         [, pos: array<binary>])

    with ``terms`` the doc's distinct terms (within-doc order is
    UNSPECIFIED — batch-wide first-appearance factorize codes, not
    lexicographic; consumers must not binary-search a row's terms) and
    ``tfs``/``pos`` aligned. Same values as :func:`tokenize_and_count`
    exploded — this is the build-path wire format: the per-posting row
    form repeats the doc id, doc length and (for hot terms) the term
    string once PER POSTING, so the exploded tf table shuffles ~3x the
    bytes and ~200x the rows of the packed one. At the 10^12-doc design
    point the (term,salt) segment shuffle is the build's only full-volume
    exchange, so its byte count is the build's scarce resource; packing is
    the map-side combine that protects it (a doc's postings all carry the
    doc's salt, so per-SALT partitioning of packed rows preserves the
    (term,salt) co-location the segment kernel needs).

    Empty docs emit ``(key, 0, [], [])`` — no NULL sentinel needed; the
    doc-side table derives from this output with no dedup shuffle.

    ``carry``: input columns passed through unchanged after the packed
    ones (a build's key and filter columns), so one pass yields the tf,
    docs and filter rows.
    """
    import numpy as np
    import pandas as pd

    from ..functions.analyzer import ANALYZERS
    from ..sources.html import extract_text_from_html

    analyze = ANALYZERS[chain]
    schema = f"{key_col} long, doc_len int, terms array<string>, tfs array<int>"
    if positions:
        schema += ", pos array<binary>"
    in_col = html_col if html_col is not None else text_col
    schema, cols = _with_carry(docs, schema, [key_col, in_col], carry)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if html_col is not None:
                token_lists = [
                    analyze(extract_text_from_html(h)) for h in pdf[in_col]
                ]
            else:
                token_lists = [analyze(t) for t in pdf[in_col]]
            n_rows = len(token_lists)
            lens = np.fromiter(
                (len(t) for t in token_lists), dtype=np.int64, count=n_rows
            )
            keys_all = pdf[key_col].to_numpy()
            empty_s = np.empty(0, dtype=object)
            empty_i = np.empty(0, dtype=np.int32)
            out_terms: list = [empty_s] * n_rows
            out_tfs: list = [empty_i] * n_rows
            out_pos: list = [[]] * n_rows
            nz = lens > 0
            if nz.any():
                nzlens = lens[nz]
                flat = np.fromiter(
                    _iterchain.from_iterable(
                        t for t, ok in zip(token_lists, nz) if ok),
                    dtype=object, count=int(nzlens.sum()),
                )
                # same (doc, term) counting pass as tokenize_and_count:
                # factorize + integer pair sort, runs = per-doc-term tf.
                # Docs are batch-contiguous, so the key codes ARE the nz
                # doc ordinals — repeat(arange) replaces a 7M-element
                # hash-factorize pass (measured 4x cheaper).
                codes, uniques = pd.factorize(flat)
                kcodes = np.repeat(
                    np.arange(int(nz.sum()), dtype=np.int64), nzlens)
                pair = kcodes * len(uniques) + codes
                order = np.argsort(pair, kind="stable")
                ps = pair[order]
                change = np.ones(ps.size, dtype=bool)
                change[1:] = ps[1:] != ps[:-1]
                starts = np.flatnonzero(change)
                tf = np.diff(np.append(starts, ps.size)).astype(np.int32)
                sel = order[starts]
                terms_sorted = uniques[codes[sel]]
                # doc boundaries among the (doc, term) runs: kcodes are
                # first-appearance codes over np.repeat(keys_all[nz]), so
                # run-groups come out in batch order of the nz docs
                ksel = kcodes[sel]
                dchange = np.ones(ksel.size, dtype=bool)
                dchange[1:] = ksel[1:] != ksel[:-1]
                dstarts = np.flatnonzero(dchange)
                nz_rows = np.flatnonzero(nz)
                term_splits = np.split(terms_sorted, dstarts[1:])
                tf_splits = np.split(tf, dstarts[1:])
                for j, row_i in enumerate(nz_rows):
                    out_terms[row_i] = term_splits[j]
                    out_tfs[row_i] = tf_splits[j]
                if positions:
                    from .varbyte import (delta_gaps_blocked,
                                          varbyte_encode_sliced)

                    doc_offs = np.repeat(
                        np.concatenate(([0], np.cumsum(lens[nz])[:-1])),
                        lens[nz],
                    )
                    pos_all = (
                        np.arange(flat.size, dtype=np.int64) - doc_offs + 1
                    )
                    pos_sorted = pos_all[order].astype(np.uint64)
                    ends = np.append(starts[1:], ps.size)
                    gaps = delta_gaps_blocked(pos_sorted, starts)
                    pos_bytes = varbyte_encode_sliced(gaps, starts, ends)
                    bounds = dstarts[1:].tolist() + [ksel.size]
                    lo = 0
                    for j, row_i in enumerate(nz_rows):
                        out_pos[row_i] = pos_bytes[lo:bounds[j]]
                        lo = bounds[j]
            data = {
                key_col: keys_all,
                "doc_len": lens.astype(np.int32),
                "terms": out_terms,
                "tfs": out_tfs,
            }
            if positions:
                data["pos"] = out_pos
            for c in carry:
                data[c] = pdf[c].to_numpy()
            yield pd.DataFrame(data)

    return docs.select(*cols).mapInPandas(kernel, schema=schema)


def _with_carry(docs: DataFrame, schema: str, cols: list, carry) -> tuple:
    """(output StructType: ``schema`` + the ``carry`` columns' input
    fields, the input columns a kernel reads: ``cols`` + ``carry``)."""
    from pyspark.sql.types import StructType

    out = StructType.fromDDL(schema)
    for c in carry:
        out = out.add(docs.schema[c])
    return out, list(dict.fromkeys([*cols, *carry]))


def _pack_token_lists(token_lists, keys_all, prefix: str | None = None):
    """Per-doc (distinct term, tf) packing shared by the single- and
    multi-field packed kernels: factorize + integer pair sort + run-length
    counting (see ``tokenize_and_count_packed`` for the rationale).

    ``prefix``: prepended to every DISTINCT term (once per batch-unique
    term, not per token) — the multi-field build uses it to fold the field
    name into the term key so the downstream segment/dictionary machinery
    stays field-agnostic.

    Returns ``(lens int64[n], out_terms list[ndarray], out_tfs
    list[ndarray])`` aligned with the input rows (empty docs get empty
    arrays)."""
    import numpy as np
    import pandas as pd

    n_rows = len(token_lists)
    lens = np.fromiter(
        (len(t) for t in token_lists), dtype=np.int64, count=n_rows
    )
    empty_s = np.empty(0, dtype=object)
    empty_i = np.empty(0, dtype=np.int32)
    out_terms: list = [empty_s] * n_rows
    out_tfs: list = [empty_i] * n_rows
    nz = lens > 0
    if nz.any():
        nzlens = lens[nz]
        # fromiter over a chained generator beats per-list asarray +
        # concatenate by ~35% (single object-array fill, no temporaries);
        # keys are batch-contiguous so their first-appearance codes are
        # the nz doc ordinals — repeat(arange) for free, no hash pass.
        flat = np.fromiter(
            _iterchain.from_iterable(t for t, ok in zip(token_lists, nz) if ok),
            dtype=object, count=int(nzlens.sum()),
        )
        codes, uniques = pd.factorize(flat)
        if prefix is not None:
            uniques = np.asarray(
                [prefix + u for u in uniques], dtype=object
            )
        kcodes = np.repeat(np.arange(int(nz.sum()), dtype=np.int64), nzlens)
        pair = kcodes * len(uniques) + codes
        order = np.argsort(pair, kind="stable")
        ps = pair[order]
        change = np.ones(ps.size, dtype=bool)
        change[1:] = ps[1:] != ps[:-1]
        starts = np.flatnonzero(change)
        tf = np.diff(np.append(starts, ps.size)).astype(np.int32)
        sel = order[starts]
        terms_sorted = uniques[codes[sel]]
        ksel = kcodes[sel]
        dchange = np.ones(ksel.size, dtype=bool)
        dchange[1:] = ksel[1:] != ksel[:-1]
        dstarts = np.flatnonzero(dchange)
        nz_rows = np.flatnonzero(nz)
        term_splits = np.split(terms_sorted, dstarts[1:])
        tf_splits = np.split(tf, dstarts[1:])
        for j, row_i in enumerate(nz_rows):
            out_terms[row_i] = term_splits[j]
            out_tfs[row_i] = tf_splits[j]
    return lens, out_terms, out_tfs


def tokenize_and_count_packed_fields(
    docs: DataFrame,
    fields,
    key_col: str = "doc_id",
    text_col: str = "text",
    chain: str = DEFAULT_CHAIN,
    sep: str = "\x1f",
    carry=(),
) -> DataFrame:
    """Multi-field fused analyze+count: ONE ROW PER (DOCUMENT, FIELD):

        (key, field, doc_len, terms: array<string>, tfs: array<int>)

    with every term key prefixed ``field + sep`` — the Lucene-style
    field-scoped term dictionary (a ``title:spark`` posting list is a
    different list than ``body:spark``), expressed as a key prefix so the
    packed segment build / dictionary / block-max query machinery stays
    exactly the single-field code.

    ``fields``: sequence of ``(name, token_limit)`` — each field is the
    analyzed token stream of ``text_col``, optionally truncated to its
    first ``token_limit`` tokens (``None`` = all). One analyzer pass per
    document serves every field (the reference's copyField pattern:
    schema.xml copies one source into several differently-searched
    fields without re-tokenizing the source per field).

    EVERY doc emits a row for EVERY field (empty docs too, doc_len=0) —
    per-field collection stats (n_docs, avgdl) derive from this output
    with no second scan, matching Lucene's per-field norms.

    ``carry``: as in :func:`tokenize_and_count_packed`, repeated on each
    of a doc's field rows.
    """
    import numpy as np
    import pandas as pd

    from ..functions.analyzer import ANALYZERS

    analyze = ANALYZERS[chain]
    field_list = [(str(n), lim) for n, lim in fields]
    schema, cols = _with_carry(docs, (
        f"{key_col} long, field string, doc_len int,"
        " terms array<string>, tfs array<int>"
    ), [key_col, text_col], carry)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            token_lists = [analyze(t) for t in pdf[text_col]]
            keys_all = pdf[key_col].to_numpy()
            frames = []
            for fname, limit in field_list:
                flists = (
                    token_lists if limit is None
                    else [t[:limit] for t in token_lists]
                )
                lens, out_terms, out_tfs = _pack_token_lists(
                    flists, keys_all, prefix=fname + sep
                )
                frames.append(pd.DataFrame({
                    key_col: keys_all,
                    "field": fname,
                    "doc_len": lens.astype(np.int32),
                    "terms": out_terms,
                    "tfs": out_tfs,
                    **{c: pdf[c].to_numpy() for c in carry},
                }))
            yield pd.concat(frames, ignore_index=True)

    return docs.select(*cols).mapInPandas(kernel, schema=schema)


def explode_packed_tf(packed: DataFrame,
                      key_col: str = "doc_id") -> DataFrame:
    """Catalyst-side adapter: packed per-doc rows -> the per-posting row
    form ``(term, key, doc_len, tf[, pos])``. Zero-token docs emit no
    rows (posting consumers filtered the NULL sentinel anyway)."""
    has_pos = "pos" in packed.columns
    zipped = F.arrays_zip(
        "terms", "tfs", *(["pos"] if has_pos else [])
    )
    e = packed.select(key_col, "doc_len", F.explode(zipped).alias("z"))
    cols = [
        F.col("z.terms").alias("term"),
        F.col(key_col),
        F.col("doc_len"),
        F.col("z.tfs").alias("tf"),
    ]
    if has_pos:
        cols.append(F.col("z.pos").alias("pos"))
    return e.select(*cols)


def doc_stats(docs_with_tokens: DataFrame, key_col: str = "url",
              tokens_col: str = "tokens") -> DataFrame:
    """(key, doc_len). Includes zero-length docs (empty text) — they count
    toward N and avgdl exactly as in the oracle."""
    return docs_with_tokens.select(
        F.col(key_col),
        F.size(F.coalesce(F.col(tokens_col), F.array())).alias("doc_len"),
    )


def collection_stats(doc_stats_df: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl, total_tokens)."""
    return doc_stats_df.agg(
        F.count("*").alias("n_docs"),
        F.avg("doc_len").alias("avgdl"),
        F.sum("doc_len").alias("total_tokens"),
    )


def document_freqs(tf_df: DataFrame) -> DataFrame:
    """(term, df, cf): document frequency + collection frequency per term.
    One shuffle on term; partial aggregation bounds the transfer."""
    return tf_df.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    )


def build_logical_index(docs: DataFrame, key_col: str = "url",
                        text_col: str = "text", chain: str = DEFAULT_CHAIN):
    """Convenience: returns (tf, doc_stats, collection_stats, df) DataFrames.

    The tokens column is computed once and reused by tf and doc_stats
    (Catalyst CSE-style manual sharing, the analog of the reference's
    perRecordInit shared intermediates, ``SolrIndexer.java:714-733``).
    """
    toks = with_tokens(docs, text_col=text_col, chain=chain)
    tf = term_freqs(toks, key_col=key_col)
    ds = doc_stats(toks, key_col=key_col)
    return tf, ds, collection_stats(ds), document_freqs(tf)
