"""Multi-field physical index build — the edismax ``qf`` substrate.

The reference's default search handler queries SEVERAL fields per term
with per-field boosts and a tie-breaker (``profiling/solr/conf/
solrconfig.xml:64-83``: edismax ``qf``/``tie``); Lucene backs that with a
field-scoped term dictionary and per-field norms (a ``title:spark``
posting list is distinct from ``body:spark``, and each field has its own
doc lengths / avgdl / df).

This build re-expresses that as a FIELD-PREFIXED TERM KEY over the
existing packed salted segment machinery (plans/build.py): one fused
tokenize pass per doc serves every field (the copyField pattern — fields
are token-limit views of the same analyzed stream), each (doc, field)
emits one packed row, per-field collection stats come from the build's
one aggregate grouped by field, and the segment blocks carry per-field
block-max norms (``build_segments_packed(avgdl_col=...)``). The build
itself — ids, the analyzed pass, the commit DAG, resume — and everything
downstream — salting, exact routing, varbyte blocks, dictionary df/cf —
is the single-field code (``plans/build.py _build``), so the multi-field index inherits its scale
shape: one full-volume shuffle (packed rows by salt), skew-immune at the
exchange, computed partition placement.

Query side: ``operators.wand.wand_topk(qf=...)`` — per-term
``max_f + tie * (sum_f - max_f)`` over boosted per-field BM25 scores
(DisjunctionMaxQuery), with block-max pruning kept exact under the
conservative sum bound (tie <= 1 implies dismax <= sum of field scores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..operators.postings import tokenize_and_count_packed_fields
from ..operators.segments import build_segments_packed
from ..session import local_frame
from .build import InvertedIndex, _build, _resolve_range_buckets
from .lineage import IndexStore, config_fingerprint

FIELD_SEP = "\x1f"


class MultiFieldIndex(InvertedIndex):
    """Handle to a built multi-field index: the :class:`InvertedIndex`
    chain handle (same readers, tombstone masks and generation
    lifecycle) with per-FIELD collection stats, per-field cap rescaling
    and the per-(doc, field) tf layout behind the lifecycle hooks."""

    def _load_meta(self, meta: dict) -> None:
        self.sep = meta.get("field_sep", FIELD_SEP)
        self.fields = list(meta.get("fields", []))
        self.field_limits = meta.get("field_limits") or {}

    def _load_stats(self) -> None:
        # per-field (n_docs, avgdl) — a handful of rows, driver-resident
        self.field_stats = {
            r["field"]: (int(r["n_docs"]), float(r["avgdl"]))
            for r in self._stats_rows
        }
        # every doc has a row in every field, so any field's count is the
        # live doc count (the single-field ``n_docs``)
        self.n_docs = max((n for n, _ in self.field_stats.values()),
                          default=0)

    def _cap_scales(self, store: IndexStore) -> dict:
        """Per-FIELD cap rescaling under corpus drift (the single-field
        argument, applied per field since each field has its own avgdl):
        ``{field: avgdl_now_f / avgdl_built_f}`` for the fields whose
        ratio exceeds 1; a key's field is its prefix before ``sep``."""
        built = store.get_meta().get("built_field_avgdl") or {
            r["field"]: r["avgdl"]
            for r in store.stage_rows("stats")}
        scales = {}
        for fname, (_, avgdl_now) in self.field_stats.items():
            s = avgdl_now / max(float(built.get(fname, avgdl_now)), 1e-12)
            if s > 1.0:
                scales[fname] = s
        return scales

    def _kind_meta(self) -> dict:
        return {"fields": self.fields, "field_sep": self.sep,
                "field_limits": self.field_limits, "multifield": True}

    def _tokenize(self, docs: DataFrame, text_col: str,
                  html_col: str | None, key_col: str = "doc_id",
                  carry=()) -> DataFrame:
        if html_col is not None:
            raise ValueError("a multi-field index tokenizes text_col; "
                             "html_col is not supported")
        return tokenize_and_count_packed_fields(
            docs, [(n, self.field_limits.get(n)) for n in self.fields],
            key_col=key_col, text_col=text_col, chain=self.chain,
            sep=self.sep, carry=carry)

    _stats_schema = ("field string, n_docs long, avgdl double,"
                     " total_tokens long")
    # one packed tf row per (doc, field); the docs stage has no lengths
    _tf_facts = ("doc_id", "field", "doc_len")
    _tf_group = "field"

    def _doc_rows(self, analyzed: DataFrame, *cols) -> DataFrame:
        # one packed row per doc within any single field
        return analyzed.filter(F.col("field") == self.fields[0]).select(
            "doc_id", *cols)

    def _stats_of(self, totals: dict) -> list:
        out = []
        for f in self.fields:
            n, t = totals.get(f, (0, 0))
            out.append(Row(field=f, n_docs=n,
                           avgdl=(float(t) / n) if n > 0 else 0.0,
                           total_tokens=t))
        return out

    def _delta_facts(self, facts) -> tuple:
        # one packed row per doc within any single field
        totals = {f: (len(g), int(g["doc_len"].sum()))
                  for f, g in facts.groupby("field")}
        return facts.loc[facts["field"] == self.fields[0], ["doc_id"]], totals

    def _removed_totals(self, dead: list, removed_tf) -> dict:
        # the docs stage holds no per-field lengths: one aggregation of
        # the tombstoned docs' tf rows
        if not dead:
            return {}
        return {r["field"]: (int(r["n"]), int(r["t"] or 0))
                for r in removed_tf.groupBy("field").agg(
                    F.count("*").alias("n"),
                    F.sum("doc_len").alias("t")).collect()}

    def _built_meta(self, stats_rows: list) -> dict:
        return {"built_field_avgdl": {r["field"]: float(r["avgdl"])
                                      for r in stats_rows}}

    def _build_segments(self, tf: DataFrame, stats_rows: list,
                        n_salts: int, block_size: int,
                        range_buckets: int | str, n_rows: int) -> DataFrame:
        favg = local_frame(
            self.spark, [(r["field"], float(r["avgdl"])) for r in stats_rows],
            "field string, _favgdl double")
        return build_segments_packed(
            tf.join(F.broadcast(favg), "field"), avgdl=0.0,
            n_salts=n_salts, block_size=block_size,
            range_buckets=_resolve_range_buckets(
                range_buckets, self.spark, n_salts,
                n_rows // max(len(self.fields), 1)),
            avgdl_col="_favgdl",
        )


def build_multifield_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    fields,
    key_col: str = "doc_id",
    text_col: str = "text",
    chain: str = "simple",
    n_salts: int = 16,
    block_size: int = 128,
    partitions: int | None = None,
    id_col: str | None = None,
    range_buckets: int | str = "auto",
    filter_cols=None,
) -> MultiFieldIndex:
    """Build (or resume) a multi-field physical index at ``path``.

    ``fields``: sequence of ``(name, token_limit)`` — each field is the
    analyzed ``text_col`` stream truncated to its first ``token_limit``
    tokens (``None`` = whole stream). See module docstring.

    Stages (manifest-gated like plans/build.py):
      tf          packed per-(doc, field) postings, terms field-prefixed
      stats       (field, n_docs, avgdl, total_tokens) — one row per field
      docs        (doc_id[, key]) — one row per doc
      segments    salted varbyte blocks, per-field block-max norms
      dictionary  (term=field<sep>term, df, cf) — per-field df by key
    """
    field_list = [(str(n), lim) for n, lim in fields]
    filter_cols = list(filter_cols or [])
    store = IndexStore(path)
    store.set_fingerprint(
        config_fingerprint(
            {
                "chain": chain,
                "n_salts": n_salts,
                "block_size": block_size,
                "key_col": key_col,
                "id_col": id_col,
                "fields": field_list,
                "filter_cols": filter_cols,
                "version": 1,  # multifield v1
            }
        )
    )
    meta = {
        "n_salts": n_salts, "chain": chain, "block_size": block_size,
        "fields": [n for n, _ in field_list], "field_sep": FIELD_SEP,
        "field_limits": {n: lim for n, lim in field_list},
        "multifield": True,
    }
    store.set_meta(meta)
    kind = MultiFieldIndex._for_build(spark, chain, meta)
    stats_rows = _build(
        spark, store, docs, kind, key_col=key_col, text_col=text_col,
        html_col=None, id_col=id_col, partitions=partitions,
        filter_cols=filter_cols, n_salts=n_salts,
        block_size=block_size, range_buckets=range_buckets)
    if "built_field_avgdl" not in store.get_meta():
        store.set_meta({
            **kind._built_meta(stats_rows),
            "key_col": key_col,
            "filter_cols": filter_cols,
        })

    return MultiFieldIndex(store, spark, chain)
