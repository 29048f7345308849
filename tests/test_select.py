"""Unified /select request (plans/select.py): the SearchHandler component
chain — scored match set shared by numFound, page, facet battery and
highlights; facets count the q∩fq MATCH SET (Solr semantics), paging is
a bounded sort."""

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.operators.bm25 import (
    bm25_topk_sql_plan,
    highlight_topk,
)
from marc_solr_profiling_spark.operators.facets import facet_multi
from marc_solr_profiling_spark.plans.select import solr_select

from conftest import SF_DIR

Q = "spark merge window stream"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").persist()
    d.count()
    yield d
    d.unpersist()


def test_match_all_is_profiling_battery(spark, docs):
    """q=*:* faceting equals the standalone whole-table battery — the
    reference's profiling request shape."""
    resp = solr_select(docs, None, facet_fields=["lang", "source"], rows=5)
    assert resp.num_found == docs.count()
    want = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
            for r in facet_multi(docs, ["lang", "source"]).collect()}
    got = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
           for r in resp.facets.collect()}
    assert got == want
    page = resp.docs.collect()
    assert len(page) == 5
    assert [r["rank"] for r in page] == [1, 2, 3, 4, 5]
    assert all(r["score"] == 1.0 for r in page)


def test_facets_count_match_set_not_corpus(spark, docs):
    """The Solr point: facet counts are over q∩fq, so every lang facet
    row must equal the count of matching docs with that lang — and the
    fq makes non-en lang rows impossible."""
    resp = solr_select(
        docs, Q, fq=F.col("lang") == "en",
        facet_fields=["lang", "source"], rows=10,
    )
    matched = bm25_topk_sql_plan(
        docs, Q, key_col="doc_id", chain="simple", round_to=4,
        filter_query=F.col("lang") == "en", return_all_scored=True,
    )
    m = matched.join(docs.select("doc_id", "lang", "source"), "doc_id")
    assert resp.num_found == matched.count()
    frows = resp.facets.collect()
    langs = {r["facet_value"]: r["count"] for r in frows
             if r["facet_field"] == "lang"}
    assert set(langs) == {"en"}
    assert langs["en"] == resp.num_found
    srcs = {r["facet_value"]: r["count"] for r in frows
            if r["facet_field"] == "source"}
    want_srcs = {r["source"]: r["n"] for r in
                 m.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert srcs == want_srcs


def test_paging_offsets_are_consistent(spark, docs):
    first20 = solr_select(docs, Q, rows=20).docs.collect()
    page2 = solr_select(docs, Q, start=10, rows=10).docs.collect()
    assert [r["rank"] for r in page2] == list(range(11, 21))
    assert ([(r["doc_id"], r["score"]) for r in page2]
            == [(r["doc_id"], r["score"]) for r in first20[10:20]])


def test_highlights_match_component(spark, docs):
    resp = solr_select(docs, Q, rows=10, hl=True)
    got = {r["doc_id"]: (r["matched_term"], r["match_pos"], r["snippet"])
           for r in resp.highlights.collect()}
    want = {r["doc_id"]: (r["matched_term"], r["match_pos"], r["snippet"])
            for r in highlight_topk(docs, Q, key_col="doc_id", k=10,
                                    frag_chars=60, chain="simple",
                                    round_to=4).collect()}
    assert got == want


def test_response_frame_sections(spark, docs):
    resp = solr_select(docs, Q, fq=F.col("lang") == "en",
                       facet_fields=["lang"], rows=3)
    rows = resp.response_frame().collect()
    secs = {}
    for r in rows:
        secs.setdefault(r["section"], []).append(r)
    assert {s for s in secs} == {"meta", "doc", "facet"}
    assert secs["meta"][0]["num"] == float(resp.num_found)
    assert len(secs["doc"]) == 3


def test_physical_select_matches_logical(spark, docs, tmp_path):
    """The same /select request answered from the physical index
    (postings match-bitset + indexed fq + WAND page + metadata facet
    join) must produce the identical response to the logical plan."""
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_index(
        spark, docs, str(tmp_path / "selidx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
        filter_cols=["lang", "source"],
    )
    phys = solr_select_physical(
        idx, docs.select("doc_id", "lang", "source"), Q,
        fq=["lang:en"], rows=10, facet_fields=["lang", "source"],
    )
    logi = solr_select(
        docs, Q, fq=F.col("lang") == "en", rows=10,
        facet_fields=["lang", "source"],
    )
    assert phys.num_found == logi.num_found
    got = [(r["doc_id"], r["score"], r["rank"])
           for r in phys.docs.collect()]
    want = [(r["doc_id"], r["score"], r["rank"])
            for r in logi.docs.collect()]
    assert got == want
    gf = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
          for r in phys.facets.collect()}
    wf = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
          for r in logi.facets.collect()}
    assert gf == wf


def test_physical_select_paging(spark, docs, tmp_path):
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_index(
        spark, docs, str(tmp_path / "selidx2"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    full = solr_select_physical(idx, docs, Q, rows=20).docs.collect()
    page2 = solr_select_physical(idx, docs, Q, start=10,
                                 rows=10).docs.collect()
    assert [r["rank"] for r in page2] == list(range(11, 21))
    assert ([(r["doc_id"], r["score"]) for r in page2]
            == [(r["doc_id"], r["score"]) for r in full[10:20]])


def test_index_only_facets_match_metadata_join(spark, docs, tmp_path):
    """facet_match_counts (bitset intersection in the kernel) equals the
    metadata-join battery for q, q+fq, and the match-all battery — and
    the match-all case never touches the docs table at all."""
    from marc_solr_profiling_spark.operators.wand import facet_match_counts
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_index(
        spark, docs, str(tmp_path / "fidx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
        filter_cols=["lang", "source"],
    )

    def via_metadata(q, fq):
        # force the metadata path by asking for a field outside
        # filter_cols?  simpler: call the logical select
        pred = None
        if fq:
            pred = F.col("lang") == fq[0].split(":", 1)[1]
        return solr_select(docs, q, fq=pred, rows=5,
                           facet_fields=["lang", "source"])

    for q, fq in [(Q, None), (Q, ["lang:en"]), (None, ["lang:de"])]:
        phys = solr_select_physical(
            idx, None, q, fq=fq or (), rows=5,
            facet_fields=["lang", "source"])
        logi = via_metadata(q, fq)
        assert phys.num_found == logi.num_found, (q, fq)
        gf = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
              for r in phys.facets.collect()}
        wf = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
              for r in logi.facets.collect()}
        assert gf == wf, (q, fq)

    # pure match-all battery: counts == whole-table facet battery
    fm = facet_match_counts(idx, None, facet_fields=["lang", "source"])
    got = {(r["facet_field"], r["facet_value"]): r["count"]
           for r in fm.filter(
               F.col("facet_field") != "__num_found__").collect()}
    want = {(r["facet_field"], r["facet_value"]): r["count"]
            for r in facet_multi(docs, ["lang", "source"],
                                 limit=10**6).collect()}
    assert got == want
    nf = {r["count"] for r in fm.filter(
        F.col("facet_field") == "__num_found__").collect()}
    assert nf == {docs.count()}


def test_range_and_pivot_facets_on_match_set(spark, docs):
    """facet.range and facet.pivot sections compute over the SAME q∩fq
    match-set domain as the field facets."""
    from marc_solr_profiling_spark.operators.facets import (
        pivot_facet,
        range_facet,
    )

    resp = solr_select(
        docs, Q, fq=F.col("lang") == "en", rows=5,
        facet_ranges=[("n_chars", 0.0, 2000.0, 250.0)],
        facet_pivots=[("lang", "source", 10)],
    )
    matched = bm25_topk_sql_plan(
        docs, Q, key_col="doc_id", chain="simple", round_to=4,
        filter_query=F.col("lang") == "en", return_all_scored=True,
    )
    dom = docs.join(matched.select("doc_id"), "doc_id", "left_semi")
    want_r = {(r["bucket_start"], r["count"])
              for r in range_facet(dom, "n_chars", 0.0, 2000.0,
                                   250.0).collect()}
    got_r = {(r["bucket_start"], r["count"])
             for r in resp.facet_ranges.collect()}
    assert got_r == want_r and got_r
    want_p = {(r["lang"], r["source"], r["outer_count"], r["count"])
              for r in pivot_facet(dom, "lang", "source", 10).collect()}
    got_p = {(r["outer_value"], r["inner_value"], r["outer_count"],
              r["count"])
             for r in resp.facet_pivots.collect()}
    assert got_p == want_p and got_p


def test_physical_select_highlights(spark, docs, tmp_path):
    """hl=True on the physical select: snippets from the stored-field
    table for the page docs only — equal to the logical component."""
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_index(
        spark, docs, str(tmp_path / "hlidx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    phys = solr_select_physical(idx, docs, Q, rows=10, hl=True)
    got = {r["doc_id"]: (r["matched_term"], r["match_pos"], r["snippet"])
           for r in phys.highlights.collect()}
    want = {r["doc_id"]: (r["matched_term"], r["match_pos"], r["snippet"])
            for r in highlight_topk(docs, Q, key_col="doc_id", k=10,
                                    frag_chars=60, chain="simple",
                                    round_to=4).collect()}
    assert got == want and got


def test_sort_parameter_logical_and_physical(spark, docs, tmp_path):
    """Solr sort= replaces relevance order: the page is the match set
    ordered by the field spec (sortMissingLast) — logical and physical
    agree, and both equal a direct sort of the match-set join."""
    from marc_solr_profiling_spark.functions.sort_spec import sort_columns
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    spec = "lang asc, n_chars desc, doc_id asc"
    logi = solr_select(docs, Q, sort=spec, rows=10)
    matched = bm25_topk_sql_plan(
        docs, Q, key_col="doc_id", chain="simple", round_to=4,
        return_all_scored=True,
    )
    want = [r["doc_id"] for r in
            matched.join(docs.select("doc_id", "lang", "n_chars"),
                         "doc_id")
            .orderBy(*sort_columns(spec)).limit(10).collect()]
    got = [(r["doc_id"], r["rank"]) for r in logi.docs.collect()]
    assert [d for d, _ in got] == want
    assert [rk for _, rk in got] == list(range(1, 11))

    idx = build_index(
        spark, docs, str(tmp_path / "sortidx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    phys = solr_select_physical(
        idx, docs.select("doc_id", "lang", "n_chars"), Q, sort=spec,
        rows=10)
    assert [r["doc_id"] for r in phys.docs.collect()] == want
    assert phys.num_found == logi.num_found
    # page 2 consistency under sort
    p2 = solr_select_physical(
        idx, docs.select("doc_id", "lang", "n_chars"), Q, sort=spec,
        start=5, rows=5)
    assert [r["doc_id"] for r in p2.docs.collect()] == want[5:10]


def test_physical_select_match_all(spark, docs, tmp_path):
    """ADVICE regression: q='*:*' through solr_select_physical must
    equal the logical match-all response (constant-score keyed page,
    fq restriction, facet battery) instead of silently returning an
    empty page — both index-only and metadata-join facet paths."""
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_index(
        spark, docs, str(tmp_path / "ma_idx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
        filter_cols=["lang", "source"],
    )
    for q, fqs, pred in (
        ("*:*", None, None),
        (None, ["lang:en"], F.col("lang") == "en"),
    ):
        phys = solr_select_physical(
            idx, docs.select("doc_id", "lang", "source"), q,
            fq=fqs or (), rows=7, facet_fields=["lang", "source"])
        logi = solr_select(
            docs, q, fq=pred, rows=7, facet_fields=["lang", "source"])
        assert phys.num_found == logi.num_found > 0, (q, fqs)
        assert ([(r["doc_id"], r["score"], r["rank"])
                 for r in phys.docs.collect()]
                == [(r["doc_id"], r["score"], r["rank"])
                    for r in logi.docs.collect()]), (q, fqs)
        gf = {(r["facet_field"], r["facet_value"]): r["count"]
              for r in phys.facets.collect()}
        wf = {(r["facet_field"], r["facet_value"]): r["count"]
              for r in logi.facets.collect()}
        assert gf == wf, (q, fqs)
    # metadata-join facet path (facet field outside filter_cols set):
    idx2 = build_index(
        spark, docs, str(tmp_path / "ma_idx2"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
        filter_cols=["lang"],
    )
    phys = solr_select_physical(
        idx2, docs.select("doc_id", "lang", "source"), None,
        fq=["lang:en"], rows=5, facet_fields=["source"])
    logi = solr_select(docs, None, fq=F.col("lang") == "en", rows=5,
                       facet_fields=["source"])
    assert phys.num_found == logi.num_found > 0
    assert ([(r["doc_id"], r["score"]) for r in phys.docs.collect()]
            == [(r["doc_id"], r["score"]) for r in logi.docs.collect()])
    # match-all + field sort composes too
    srt = solr_select_physical(
        idx2, docs.select("doc_id", "lang", "source"), None,
        rows=5, sort="lang asc, doc_id desc")
    lsrt = solr_select(docs, None, rows=5, sort="lang asc, doc_id desc")
    assert ([r["doc_id"] for r in srt.docs.collect()]
            == [r["doc_id"] for r in lsrt.docs.collect()])


def test_select_dismax_physical_matches_logical(spark, docs, tmp_path):
    """The reference's ACTUAL default request (solrconfig.xml:67-83):
    edismax q over qf fields + tie + fq + facet battery + paging in ONE
    /select — answered from the multi-field physical index vs the
    logical dismax plan. Identical response, all sections."""
    from marc_solr_profiling_spark.functions.textstats import tokens_simple
    from marc_solr_profiling_spark.plans.multifield import (
        build_multifield_index,
    )
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_multifield_index(
        spark, docs, str(tmp_path / "dm_idx"),
        fields=[("title", 8), ("body", None)],
        key_col="doc_id", id_col="doc_id", chain="simple",
        n_salts=4, block_size=32, filter_cols=["lang", "source"],
    )
    for fqs, pred in ((None, None), (["lang:en"], F.col("lang") == "en")):
        phys = solr_select_physical(
            idx, docs.select("doc_id", "lang", "source"), Q,
            qf={"title": 2.0, "body": 1.0}, tie=0.1,
            fq=fqs or (), rows=10, facet_fields=["lang", "source"],
            round_to=4)
        logi = solr_select(
            docs, Q, chain="simple",
            qf_fields=[
                (F.slice(tokens_simple("text"), 1, 8), 2.0),
                (tokens_simple("text"), 1.0),
            ],
            tie=0.1, fq=pred, rows=10,
            facet_fields=["lang", "source"], round_to=4)
        assert phys.num_found == logi.num_found > 0, fqs
        assert ([(r["doc_id"], r["score"], r["rank"])
                 for r in phys.docs.collect()]
                == [(r["doc_id"], r["score"], r["rank"])
                    for r in logi.docs.collect()]), fqs
        gf = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
              for r in phys.facets.collect()}
        wf = {(r["facet_field"], r["facet_value"]): (r["count"], r["rank"])
              for r in logi.facets.collect()}
        assert gf == wf, fqs
    # mm over BASE terms gates both paths identically
    p2 = solr_select_physical(
        idx, docs.select("doc_id", "lang", "source"), Q,
        qf={"title": 2.0, "body": 1.0}, min_match=3, rows=10,
        facet_fields=["lang"], round_to=4)
    l2 = solr_select(
        docs, Q, chain="simple", min_match=3,
        qf_fields=[(F.slice(tokens_simple("text"), 1, 8), 2.0),
                   (tokens_simple("text"), 1.0)],
        rows=10, facet_fields=["lang"], round_to=4)
    assert p2.num_found == l2.num_found > 0
    assert ([(r["doc_id"], r["score"]) for r in p2.docs.collect()]
            == [(r["doc_id"], r["score"]) for r in l2.docs.collect()])


def test_cursor_mark_through_select(spark, docs, tmp_path):
    """cursorMark deep paging through /select: three cursor pages tile
    the offset-paged order exactly, logical == physical, and the
    contract violations (no sort / cursor+start) fail loudly."""
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    sort = "n_chars desc, doc_id asc"
    want = solr_select(docs, Q, rows=30, sort=sort).docs.collect()
    got, cur = [], "*"
    for _ in range(3):
        r = solr_select(docs, Q, rows=10, sort=sort, cursor_mark=cur)
        got.extend(r.docs.collect())
        cur = r.next_cursor_mark
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    with pytest.raises(ValueError, match="sort"):
        solr_select(docs, Q, rows=10, cursor_mark="*")
    with pytest.raises(ValueError, match="start"):
        solr_select(docs, Q, rows=10, sort=sort, start=5, cursor_mark="*")

    idx = build_index(
        spark, docs, str(tmp_path / "cur_idx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    meta = docs.select("doc_id", "n_chars")
    gp, cur = [], "*"
    for _ in range(3):
        r = solr_select_physical(idx, meta, Q, rows=10, sort=sort,
                                 cursor_mark=cur)
        gp.extend(r.docs.collect())
        cur = r.next_cursor_mark
    assert [r["doc_id"] for r in gp] == [r["doc_id"] for r in want]


# a sort-key mark past every doc: "n_chars desc" never goes below -1
PAST_END = (-1, 10**9)


def test_exhausted_cursor_echoes_sent_mark(spark, docs):
    """An empty cursor page echoes the mark it was sent ("*" included),
    Solr's exhausted-cursor contract; a None would silently turn the
    next request into offset page 1."""
    sort = "n_chars desc, doc_id asc"
    r = solr_select(docs, "zzqqxnomatch", rows=10, sort=sort,
                    cursor_mark="*")
    assert r.docs.count() == 0 and r.next_cursor_mark == "*"
    r = solr_select(docs, Q, rows=10, sort=sort, cursor_mark=PAST_END)
    assert r.docs.count() == 0 and r.next_cursor_mark == PAST_END


def test_exhausted_cursor_echoes_sent_mark_physical(spark, docs, tmp_path):
    """The physical /select keeps the same exhausted-cursor contract."""
    from marc_solr_profiling_spark.plans.build import build_index
    from marc_solr_profiling_spark.plans.select import solr_select_physical

    idx = build_index(
        spark, docs, str(tmp_path / "cur_end_idx"), key_col="doc_id",
        id_col="doc_id", chain="simple", n_salts=4, block_size=32,
    )
    meta = docs.select("doc_id", "n_chars")
    sort = "n_chars desc, doc_id asc"
    r = solr_select_physical(idx, meta, "zzqqxnomatch", rows=10, sort=sort,
                             cursor_mark="*")
    assert r.docs.count() == 0 and r.next_cursor_mark == "*"
    r = solr_select_physical(idx, meta, Q, rows=10, sort=sort,
                             cursor_mark=PAST_END)
    assert r.docs.count() == 0 and r.next_cursor_mark == PAST_END
