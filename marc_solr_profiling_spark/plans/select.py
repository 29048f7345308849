"""The unified ``/select`` request — one call composing the component
stack the reference's default handler actually runs per request
(``profiling/solr/conf/solrconfig.xml:64-280``: edismax ``q`` with
``mm``/``tie``, cached-filter ``fq`` intersections, ``rows=20`` paging,
~150 ``facet.field``s at ``facet.limit=21&facet.mincount=1``,
highlighting) — Solr's SearchHandler component chain
(QueryComponent → FacetComponent → HighlightComponent) as ONE Spark plan
family sharing ONE scored match set.

The semantic Solr point this composition exists for: **facets count the
q∩fq MATCH SET, not the corpus and not the page**. A standalone facet
query over the table (operators/facets.py) answers the profiling
workload's ``q=*:*`` battery; this plan answers the general case where
``q`` restricts the domain first.

Scale shape: the match set is computed ONCE (the same Catalyst-visible
BM25 plan as ``bm25_topk_sql_plan(return_all_scored=True)``) and
persisted for the request; numFound is its count, the page is a bounded
top-(start+rows) sort over it, the facet battery is ONE stack()+groupBy
pass over the match-set semi-join (one shuffle for all fields), and
highlighting is pure string expressions over the page join — the corpus
text is scanned exactly once for scoring and once (pruned to the page
keys) for snippets. Only the bounded sections reach the driver: the
page (start+rows rows) and the facet / range / pivot batteries are
collected into local frames before the match set is released, so no
request leaves a cached block behind.

The physical twin (:func:`solr_select_physical`) answers the relevance
request from ONE salted kernel pass over the postings.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import ANALYZERS
from ..operators.bm25 import bm25_topk_sql_plan
from ..operators.facets import facet_multi
from ..session import local_frame


@dataclass
class SelectResponse:
    """The sections of one /select response as DataFrames (read what the
    caller needs — Solr's response writer streams sections the same
    way). The bounded sections — the page and the facet batteries — are
    driver-built local frames wherever the request computed them
    already (the physical relevance pass, or a section collected before
    a persisted match set was released): reading them runs no Spark job.
    Highlights, and facets counted by a metadata join over an unpersisted
    match set, stay lazy plans."""

    num_found: int
    docs: DataFrame                      # (key, score, rank) — the page
    facets: DataFrame | None = None      # (facet_field, facet_value, count, rank)
    highlights: DataFrame | None = None  # (key, matched_term, match_pos, snippet)
    facet_ranges: DataFrame | None = None  # (facet_field, bucket_start, count)
    facet_pivots: DataFrame | None = None  # (pivot, outer_value, outer_count, inner_value, count)
    next_cursor_mark: "tuple | str | None" = None  # last row's sort-key values, or the sent mark when exhausted
    params: dict = field(default_factory=dict)

    def response_frame(self, key_col: str = "doc_id") -> DataFrame:
        """Flatten every section into one narrow frame
        ``(section, k, v, num, ord)`` — the oracle-comparable wire form
        (Solr's JSON response as rows)."""
        out = local_frame(
            self.docs.sparkSession,
            [("meta", "num_found", None, float(self.num_found), 0)],
            "section string, k string, v string, num double, ord int",
        )
        docs = self.docs.select(
            F.lit("doc").alias("section"),
            F.col(key_col).cast("string").alias("k"),
            F.lit(None).cast("string").alias("v"),
            F.col("score").cast("double").alias("num"),
            F.col("rank").cast("int").alias("ord"),
        )
        out = out.unionByName(docs)
        if self.facets is not None:
            out = out.unionByName(self.facets.select(
                F.lit("facet").alias("section"),
                F.col("facet_field").alias("k"),
                F.col("facet_value").alias("v"),
                F.col("count").cast("double").alias("num"),
                F.col("rank").cast("int").alias("ord"),
            ))
        return out


def solr_select(
    docs: DataFrame,
    q: str | None,
    key_col: str = "doc_id",
    text_col: str = "text",
    chain: str = "simple",
    fq=None,
    start: int = 0,
    rows: int = 10,
    min_match: int | str | None = None,
    sort: str | None = None,
    facet_fields: Sequence[str] = (),
    facet_limit: int = 21,
    facet_mincount: int = 1,
    facet_ranges: "Sequence[tuple] | None" = None,
    facet_pivots: "Sequence[tuple] | None" = None,
    hl: bool = False,
    hl_frag_chars: int = 60,
    round_to: int = 4,
    qf_fields: "Sequence[tuple] | None" = None,
    tie: float = 0.1,
    cursor_mark: "tuple | list | str | None" = None,
) -> SelectResponse:
    """Run one /select request over a docs table.

    ``cursor_mark``: Solr cursorMark deep paging (CursorMarkParams —
    the ``start=N`` replacement). Requires ``sort`` ending on a unique
    key (Solr's own contract). Pass ``"*"`` for the first page, then
    the previous response's ``next_cursor_mark`` tuple; the page is the
    first ``rows`` rows strictly AFTER the cursor in the sort's total
    order (keyset predicate BEFORE the top-k —
    ``functions/sort_spec.cursor_page`` — so deep pages never pay a
    top-(start+rows) sort), and ``next_cursor_mark`` carries the last
    row's sort-key values — or, on an empty page, the mark that was
    sent (``"*"`` included; Solr's exhausted-cursor contract). ``start``
    must be 0 with a cursor (Solr rejects the combination too).

    ``qf_fields``: edismax multi-field mode — the reference's DEFAULT
    handler (``solrconfig.xml:67-83``: edismax ``qf`` with per-field
    boosts + ``tie``). A sequence of ``(tokens_col_or_expr, boost)``
    exactly as ``bm25_dismax_topk_plan`` takes; ``q`` then scores as the
    DisjunctionMaxQuery sum (per-field df/avgdl, ``max + tie*rest``) and
    everything downstream (fq semi-join, paging, facet battery over the
    match set, highlighting) composes unchanged — one request, one
    scored match set. The ``tie`` default of 0.1 is this engine's; the
    reference handler ships ``tie=0.01``, so pass it for parity.

    ``q=None`` (or ``"*:*"``) is MatchAllDocsQuery: every fq-surviving
    doc matches at score 1.0 (Lucene's constant), ordered by key — the
    shape of the reference's profiling requests, which facet the whole
    collection. Otherwise ``q`` scores as BM25 (edismax ``mm`` via
    ``min_match``) with collection-wide stats, and ``fq`` restricts
    WITHOUT touching scores (Solr's cached-filter semantics, same
    contract as ``bm25_topk_sql_plan(filter_query=...)``).

    Facets (``facet.field`` list) count the q∩fq match set at
    ``facet.limit``/``facet.mincount`` with Solr's count-desc,
    index-asc ordering. ``facet_ranges``: ``(field, start, end, gap)``
    tuples (``facet.range``); ``facet_pivots``: ``(outer, inner[,
    limit])`` tuples (``facet.pivot``) — both computed over the SAME
    match-set domain as the field facets (the response's
    facet_ranges/facet_pivots sections). ``hl=True`` adds
    first-fragment snippets for the page rows (same semantics as
    ``operators/bm25.py highlight_topk``).
    """
    match_all = q is None or q.strip() == "*:*"
    if match_all:
        base = docs
        if fq is not None:
            pred = F.expr(fq) if isinstance(fq, str) else fq
            base = base.filter(pred)
        matched = base.select(
            key_col, F.lit(1.0).alias("score")
        )
    elif qf_fields is not None:
        from ..operators.bm25 import bm25_dismax_topk_plan

        matched = bm25_dismax_topk_plan(
            docs, q, fields=list(qf_fields), key_col=key_col, chain=chain,
            tie=tie, round_to=round_to, min_match=min_match,
            filter_query=fq, return_all_scored=True,
        )
    else:
        matched = bm25_topk_sql_plan(
            docs, q, key_col=key_col, chain=chain, round_to=round_to,
            min_match=min_match, filter_query=fq, return_all_scored=True,
        )
    # one scored match set feeds numFound + page + facets: persist it for
    # the request (the Solr queryResultCache analog), released once the
    # bounded sections are collected
    matched = matched.persist()
    n_found = matched.count()

    from pyspark.sql import Window

    # Solr offset paging: bounded top-(start+rows) sort over the match
    # set first (a TakeOrdered physical op — never a full sort), THEN the
    # rank window runs over that <= start+rows-row frame only.
    # ``sort``: the Solr sort parameter (functions/sort_spec grammar,
    # sortMissingLast) replaces the default relevance order; non-score
    # sort fields are joined from the docs table for the MATCH SET only.
    # Include a unique key in the spec for a deterministic page (Solr's
    # cursor contract makes the same demand).
    next_cursor = None
    if cursor_mark is not None:
        from ..functions.sort_spec import (
            cursor_page,
            parse_sort_spec,
            sort_columns,
        )

        if not sort:
            raise ValueError(
                "cursorMark needs a sort spec ending on a unique key "
                "(Solr CursorMarkParams contract)")
        if start:
            raise ValueError("cursorMark cannot be combined with start="
                             " (Solr rejects this too)")
        fields = [f for f, _ in parse_sort_spec(sort)]
        extra = [f for f in fields if f not in ("score", key_col)]
        frame = matched.select(key_col, "score")
        if extra:
            frame = frame.join(docs.select(key_col, *extra), key_col)
        cur = None if (cursor_mark == "*" or cursor_mark is None) \
            else tuple(cursor_mark)
        page = cursor_page(frame, sort, cur, page_size=rows)
        page = page.withColumn(
            "rank", F.row_number().over(Window.orderBy(*sort_columns(sort))))
    elif sort:
        from ..functions.sort_spec import parse_sort_spec, sort_columns

        extra = [f for f, _ in parse_sort_spec(sort)
                 if f not in ("score", key_col)]
        frame = matched.select(key_col, "score")
        if extra:
            frame = frame.join(docs.select(key_col, *extra), key_col)
        keys = sort_columns(sort)
        order_w = Window.orderBy(*keys)
        page = (
            frame.orderBy(*keys).limit(start + rows)
            .withColumn("rank", F.row_number().over(order_w))
        )
    else:
        page = (
            matched.orderBy(F.desc("score"), F.asc(key_col))
            .limit(start + rows)
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.desc("score"), F.asc(key_col))
                ),
            )
        )
    if start:
        page = page.filter(F.col("rank") > start)
    page, page_rows = _materialize(page)
    if cursor_mark is not None:
        # an exhausted cursor echoes the mark it was sent ("*" included),
        # as Solr does
        last = max(page_rows, key=lambda r: r["rank"], default=None)
        next_cursor = (tuple(last[f] for f in fields) if last is not None
                       else (cur if cur is not None else "*"))

    facets = None
    ranges_out = None
    pivots_out = None
    if facet_fields or facet_ranges or facet_pivots:
        domain = docs.join(
            matched.select(key_col), key_col, "left_semi"
        ) if not (match_all and fq is None) else docs
    if facet_fields:
        facets = facet_multi(domain, list(facet_fields), limit=facet_limit)
        if facet_mincount > 1:
            facets = facets.filter(F.col("count") >= facet_mincount)
    if facet_ranges:
        from ..operators.facets import range_facet

        parts = []
        for fld, lo, hi, gap in facet_ranges:
            parts.append(
                range_facet(domain, fld, lo, hi, gap).select(
                    F.lit(fld).alias("facet_field"), "bucket_start",
                    "count"))
        ranges_out = parts[0]
        for p in parts[1:]:
            ranges_out = ranges_out.unionByName(p)
    if facet_pivots:
        from ..operators.facets import pivot_facet

        pparts = []
        for spec in facet_pivots:
            outer, inner = spec[0], spec[1]
            lim = spec[2] if len(spec) > 2 else 50
            pparts.append(
                pivot_facet(domain, outer, inner, limit=lim).select(
                    F.lit(f"{outer},{inner}").alias("pivot"),
                    F.col(outer).alias("outer_value"), "outer_count",
                    F.col(inner).alias("inner_value"), "count"))
        pivots_out = pparts[0]
        for p in pparts[1:]:
            pivots_out = pivots_out.unionByName(p)

    facets, ranges_out, pivots_out = (
        None if sec is None else _materialize(sec)[0]
        for sec in (facets, ranges_out, pivots_out))
    matched.unpersist()

    highlights = None
    if hl and not match_all:
        highlights = _highlights(page, docs, key_col, text_col,
                                 ANALYZERS[chain](q), hl_frag_chars)

    return SelectResponse(
        num_found=n_found,
        docs=page.select(key_col, "score", "rank"),
        facets=facets,
        highlights=highlights,
        facet_ranges=ranges_out,
        facet_pivots=pivots_out,
        next_cursor_mark=next_cursor,
        params={"q": q, "start": start, "rows": rows,
                "facet_fields": list(facet_fields)},
    )




def solr_select_physical(
    index,
    meta_docs: DataFrame | None,
    q: str,
    key_col: str = "doc_id",
    fq: Sequence[str] = (),
    start: int = 0,
    rows: int = 10,
    min_match: int | str = 1,
    sort: str | None = None,
    facet_fields: Sequence[str] = (),
    facet_limit: int = 21,
    facet_mincount: int = 1,
    hl: bool = False,
    text_col: str = "text",
    hl_frag_chars: int = 60,
    round_to: int | None = 4,
    qf: "dict[str, float] | None" = None,
    tie: float = 0.1,
    cursor_mark: "tuple | list | str | None" = None,
) -> SelectResponse:
    """The /select request answered FROM THE PHYSICAL INDEX — how Solr
    actually executes it: ``fq`` clauses are indexed filter postings
    (``build_index(filter_cols=...)``), the match bitset and the page
    come from the postings, and the corpus TEXT is never touched at
    query time.

    The relevance request (a ``q`` with optional ``fq``, paging, ``mm``,
    ``qf``) is ONE salted kernel pass (``wand.select_pass``) — the
    analog of Solr's ``SolrIndexSearcher.getDocListAndSet``, where one
    search feeds both the top-k collector and the facet DocSet: per salt
    it emits the match-set size, the block-max top-(start+rows) and, for
    facet fields covered by the index's ``filter_cols``, the per-value
    counts of the match set (Lucene's per-segment bitset facet
    counting). One ``collect()`` brings back at most ``n_parts x k``
    page rows plus the counts; the page (scores rounded by ``F.round``,
    ranked by (score desc, key asc)) and the facets are then driver-built
    local frames, so reading them runs no Spark job. ``meta_docs`` may
    be None for such a request: it is answered from the index alone.

    ``meta_docs``: table carrying ``key_col`` + the facet / sort /
    stored-text columns, aligned with the index's doc ids (build the
    index with ``id_col=key_col``). Facet fields outside ``filter_cols``
    count the match set (``wand.matching_doc_ids``) semi-joined to it
    (the docvalues analog); ``sort=`` (with or without ``cursor_mark``)
    and ``q=None``/``'*:*'`` page over the match set joined to its sort
    columns, with index-only facets from ``wand.facet_match_counts``.
    Those shapes return their page (and any facets counted from a
    persisted match set) as local frames too, so nothing they persist
    outlives the call. ``hl=True`` joins the page to ``meta_docs``'
    ``text_col``."""
    from pyspark.sql import Window

    from ..operators.wand import (
        facet_match_counts,
        matching_doc_ids,
        resolve_plan,
        select_pass,
    )

    spark = index.spark
    # edismax qf mode (the reference's DEFAULT handler,
    # solrconfig.xml:67-83): ``index`` is a MULTI-FIELD index
    # (plans/multifield.py) and mm counts distinct BASE terms over its
    # field-scoped postings (the term_groups contract of the collectors)
    term_groups = (resolve_plan(index, q, qf=qf, tie=tie, score=False)
                   .group_of if qf is not None else None)

    fqs = list(fq) or None
    fcols = set(index.store.get_meta().get("filter_cols", []) or [])
    index_only = bool(facet_fields) and set(facet_fields) <= fcols
    # MatchAllDocsQuery (q=None / '*:*'): every fq-surviving live doc at
    # Lucene's constant score 1.0, keyed order — the reference's
    # profiling request shape, same contract as the logical solr_select
    match_all = q is None or q.strip() == "*:*"
    relevance = not (match_all or sort)

    if relevance:
        res = select_pass(
            index, q, k=start + rows, min_match=min_match,
            filter_queries=fqs,
            facet_fields=list(facet_fields) if index_only else (),
            qf=qf, tie=tie, round_to=round_to)
        n_found = res.num_found
        counts = [(*t.split(":", 1), n) for t, n in res.facet_counts.items()]
    elif index_only:
        fm = facet_match_counts(
            index, q, facet_fields=list(facet_fields), filter_queries=fqs,
            min_match=min_match, term_groups=term_groups).collect()
        n_found = sum(r["count"] for r in fm
                      if r["facet_field"] == "__num_found__")
        counts = [tuple(r) for r in fm
                  if r["facet_field"] != "__num_found__"]
    match = persisted = None
    if not relevance or (facet_fields and not index_only):
        match = matching_doc_ids(index, q, min_match=min_match,
                                 filter_queries=fqs, term_groups=term_groups)
    if not (relevance or index_only):
        # numFound, the page and the facet join all read the match set
        match = persisted = match.persist()
        n_found = match.count()

    facets = None
    if index_only:
        facets = _facet_frame(spark, counts, facet_mincount, facet_limit)
    elif facet_fields:
        domain = meta_docs.join(
            match.withColumnRenamed("doc_id", key_col), key_col,
            "left_semi")
        facets = facet_multi(domain, list(facet_fields), limit=facet_limit)
        if facet_mincount > 1:
            facets = facets.filter(F.col("count") >= facet_mincount)

    next_cursor = None
    if relevance:
        page = _relevance_page(spark, res, key_col, round_to, start)
    else:
        # match-all: constant-score page over the match bitset, keyed
        # order by default. sort=: Solr field sorting replaces relevance —
        # the match bitset joined to the metadata table's sort columns
        # (docvalues analog), bounded-sorted, no scoring; a spec naming
        # 'score' IS the relevance path. ``cursor_mark``: keyset deep
        # paging (the cursor predicate filters the match bitset BEFORE
        # the top-k)
        from ..functions.sort_spec import (
            cursor_after_expr,
            parse_sort_spec,
            sort_columns,
        )

        fields = parse_sort_spec(sort) if sort else []
        cursor = None if match_all else cursor_mark
        if not match_all:
            if any(f == "score" for f, _ in fields):
                raise ValueError(
                    "sort specs referencing 'score' are the default "
                    "relevance path — pass sort=None")
            if cursor is not None and start:
                raise ValueError("cursorMark cannot be combined with start="
                                 " (Solr rejects this too)")
        if sort and meta_docs is None:
            raise ValueError("field sorting needs meta_docs")
        frame = match.withColumnRenamed("doc_id", key_col).withColumn(
            "score", F.lit(1.0) if match_all else F.lit(None).cast("double"))
        extra = [f for f, _ in fields if f not in (key_col, "score")]
        if extra:
            frame = frame.join(meta_docs.select(key_col, *extra), key_col)
        if cursor is not None and cursor != "*":
            frame = frame.filter(cursor_after_expr(sort, tuple(cursor)))
        keys = sort_columns(sort) if sort else [F.asc(key_col)]
        page = (
            frame.orderBy(*keys)
            .limit(rows if cursor is not None else start + rows)
            .withColumn("rank", F.row_number().over(Window.orderBy(*keys)))
        )
        if start:
            page = page.filter(F.col("rank") > start)
        page, page_rows = _materialize(page)
        if cursor is not None:
            # exhausted: echo the sent mark ("*" included), as Solr does
            last = max(page_rows, key=lambda r: r["rank"], default=None)
            next_cursor = (
                tuple(last[f] for f, _ in fields) if last is not None
                else (tuple(cursor) if cursor != "*" else "*"))
    if persisted is not None:
        if facets is not None:
            facets = _materialize(facets)[0]
        persisted.unpersist()

    highlights = None
    if hl and not match_all:
        # highlighting needs the STORED text — Solr reads stored fields
        # for the page docs only; here that is the meta_docs table joined
        # on the page keys (page-sized join, pure string expressions)
        if meta_docs is None or text_col not in meta_docs.columns:
            raise ValueError(
                f"hl=True needs meta_docs with a {text_col!r} column "
                "(the stored-field table)")
        highlights = _highlights(page, meta_docs, key_col, text_col,
                                 ANALYZERS[index.chain](q), hl_frag_chars)

    return SelectResponse(
        num_found=n_found,
        docs=page.select(key_col, "score", "rank"),
        facets=facets,
        highlights=highlights,
        next_cursor_mark=next_cursor,
        params={"q": q, "fq": list(fq), "start": start, "rows": rows,
                "facet_fields": list(facet_fields), "physical": True},
    )


def _materialize(df: DataFrame):
    """Collect a small section (a page, a facet battery) into a local
    frame, so it no longer reads the persisted match set it came from.
    Returns the frame and the collected rows."""
    rows = df.collect()
    return local_frame(df.sparkSession, [tuple(r) for r in rows],
                       df.schema), rows


def _relevance_page(spark, res, key_col: str, round_to: int | None,
                    start: int) -> DataFrame:
    """The kernel's top-(start+rows) as the ranked page frame. Scores
    round in the JVM (``F.round``: HALF_UP on the JVM's decimal form —
    the projection every other path applies; a LocalRelation
    projection, so no job), then rank by (rounded score desc, key asc)."""
    schema = f"`{key_col}` long, score double"
    pdf = pd.DataFrame({key_col: res.doc_ids, "score": res.scores})
    if round_to is not None and len(pdf):
        rounded = local_frame(spark, pdf, schema).select(
            F.round("score", round_to).alias("score")).collect()
        pdf["score"] = [r["score"] for r in rounded]
    pdf = pdf.sort_values(["score", key_col], ascending=[False, True])
    pdf["rank"] = np.arange(1, len(pdf) + 1, dtype=np.int32)
    return local_frame(spark, pdf[pdf["rank"] > start],
                       schema + ", rank int")


def _facet_frame(spark, counts, mincount: int, limit: int) -> DataFrame:
    """``(field, value, count)`` match-set counts as the facet section:
    per field, count desc then value asc, at most ``limit`` values of at
    least ``mincount`` (facet.limit / facet.mincount)."""
    kept = sorted((c for c in counts if c[2] >= mincount),
                  key=lambda c: (c[0], -c[2], c[1]))
    out, rank, prev = [], 0, None
    for fld, val, n in kept:
        rank = rank + 1 if fld == prev else 1
        prev = fld
        if rank <= limit:
            out.append((fld, val, int(n), rank))
    return local_frame(
        spark, out,
        "facet_field string, facet_value string, count long, rank int")


def _highlights(page: DataFrame, stored: DataFrame, key_col: str,
                text_col: str, tokens, frag_chars: int) -> DataFrame:
    """First-fragment snippets of the page rows: the earliest query
    term in each stored text (same semantics as ``operators/bm25.py
    highlight_topk``)."""
    qterms = list(dict.fromkeys(tokens))
    NOPOS = 1 << 30
    lower = F.lower(F.col(text_col))
    cands = F.array(*[
        F.struct(
            F.when(F.locate(t, lower) > 0, F.locate(t, lower))
            .otherwise(F.lit(NOPOS)).cast("int").alias("pos"),
            F.lit(t).alias("term"),
        )
        for t in sorted(qterms)
    ])
    best = F.array_min(cands)
    found = best["pos"] < NOPOS
    start_at = F.greatest(best["pos"] - 30, F.lit(1))
    return (
        page.join(stored.select(key_col, text_col), key_col)
        .select(
            key_col,
            F.when(found, best["term"]).alias("matched_term"),
            F.when(found, best["pos"]).cast("int").alias("match_pos"),
            F.when(found, F.substring(F.col(text_col), start_at,
                                      frag_chars)).alias("snippet"),
        )
    )
