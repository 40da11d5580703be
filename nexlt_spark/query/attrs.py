"""Filter-aware driver serving: fq filters over a doc-attribute sidecar.

VERDICT r4 #4 / next #3: filtered queries (`fq role:/tool:/ts-range` —
the reference UI's default shape, solrTestLib_v2.js:45-80) always routed
to the exact scan because the driver skip-data WAND had no way to
intersect a doc_filter that lives in a DataFrame: θ and candidates had
to reflect the filter, which forced every step cluster-side. At 100×
scale that's the full-scan floor for the most common query class.

The fix is the Solr/Lucene post-filter design re-expressed for this
engine: store the filterable per-doc attributes (role, tool, conv_id,
ts) as a doc_id-SORTED parquet sidecar with small row groups — the
docvalues analog — and evaluate fq predicates driver-side on candidate
doc_ids via pyarrow with doc_id-stat row-group pruning:

- cost ∝ candidates (row groups touched by the candidate envelope), not
  corpus size — the same contract as the rest of the driver plan;
- θ stays admissible: the probe's partial scores are masked to
  filter-passing docs BEFORE taking the k-th, so θ lower-bounds the
  true filtered k-th exact score (fewer survivors ⇒ θ only drops ⇒
  kept-block masks only widen);
- every cluster-side route (exact fallback, the driver plan's Spark
  steps on in-memory stores) still works: the sidecar reads back as a
  DataFrame and `filter_documents` applies the same clauses
  (to_doc_filter_df).

At 10^12 docs the sidecar is a range-partitioned skinny table (~30 B/
doc); a candidate set of ≤5·10^5 ids touches the row groups its
envelope intersects — thousands of 1 MB groups, not the corpus.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from nexlt_spark.query.model import QueryFilters

# candidate sets up to this size push an exact doc_id isin() into the
# pyarrow scan (row-group stats prune on the value set); larger sets use
# a gap-split interval envelope + post-mask
_ISIN_CAP = 8192
_MAX_INTERVALS = 64
ATTRS_DIR = "doc_attrs"
# attribute columns the sidecar stores (every fq-able column of the
# documents table; `fields` filters may name any of them)
DEFAULT_ATTR_COLS = ("doc_id", "conv_id", "turn_idx", "role", "tool", "ts")


class AttrFilter:
    """A driver-evaluable fq filter: wraps QueryFilters for routes that
    can intersect candidates against the doc-attribute sidecar without a
    Spark job. Falls back to a DataFrame filter wherever the sidecar or
    a pyarrow-readable store is unavailable — the fallback needs a
    source for the attribute columns, so either the store carries the
    sidecar or the caller passes ``documents`` here; with neither, a
    filtered query raises rather than silently ignoring the filter
    (review r5)."""

    def __init__(self, filters: QueryFilters, documents=None):
        self.filters = filters
        self.documents = documents

    def is_empty(self) -> bool:
        return self.filters.is_empty()

    def key(self) -> tuple:
        """Hashable identity for memo keys (θ probe cache etc.)."""
        f = self.filters
        return (
            tuple(sorted(f.roles or ())),
            tuple(sorted(f.tools or ())),
            f.ts_from,
            f.ts_to,
            tuple(sorted(f.conv_ids or ())),
            tuple(sorted((k, tuple(sorted(v))) for k, v in (f.fields or {}).items())),
        )


def save_doc_attrs(documents, path: str, row_group_bytes: int = 1 << 20) -> None:
    """Write the doc-attribute sidecar: doc_id-range-partitioned, sorted
    within partitions, SMALL parquet row groups (~1 MB) so a candidate
    fetch prunes on doc_id min/max stats at row-group granularity.

    One skinny shuffle of (doc_id, attrs) — at any corpus size this is
    a fraction of the index build's own exchange."""
    cols = [c for c in DEFAULT_ATTR_COLS if c in documents.columns]
    extra = [
        c
        for c in documents.columns
        if c not in cols and c not in ("text", "text_lc", "doc_key")
    ]
    (
        documents.select(*cols, *extra)
        .repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("parquet.block.size", str(row_group_bytes))
        .parquet(f"{path}/{ATTRS_DIR}")
    )


def _pa_attrs(bidx):
    """Memoized pyarrow.dataset over the sidecar, or None (no local
    store / no sidecar written). Only POSITIVE finds are memoized — a
    sidecar written AFTER the index was loaded (save_doc_attrs on a
    live store) must become visible on the next query, not require a
    reload (review r5: the old negative memo was permanent)."""
    ds = getattr(bidx, "_pa_attrs_dataset", None)
    if ds is not None:
        return ds
    path = getattr(bidx, "store_path", None)
    if not path:
        return None
    from nexlt_spark.fs import local_path

    lp = local_path(path)
    if lp is None:
        return None
    import os

    import pyarrow.dataset as pds

    apath = os.path.join(lp, ATTRS_DIR)
    if not os.path.isdir(apath):
        return None  # re-probed per call: one isdir syscall
    ds = pds.dataset(apath, format="parquet")
    bidx._pa_attrs_dataset = ds
    return ds


def has_attrs(bidx) -> bool:
    return _pa_attrs(bidx) is not None


def _ts_scalar(value: str, ts_type):
    """ISO string → pyarrow timestamp scalar matching the column's tz."""
    import pandas as pd
    import pyarrow as pa

    t = pd.Timestamp(value)
    tz = getattr(ts_type, "tz", None)
    if tz is not None and t.tzinfo is None:
        t = t.tz_localize(tz)
    elif tz is None and t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return pa.scalar(t, type=ts_type)


def _qf_expr(qf: QueryFilters, schema):
    """QueryFilters → pyarrow dataset filter expression; mirrors
    exact.filter_documents clause-for-clause. None for the empty filter.
    Raises KeyError for a `fields` column the sidecar lacks (the facade
    400s unknown fq fields; driver-side we fail equally loudly)."""
    import pyarrow.dataset as pds

    clauses = []
    if qf.roles:
        clauses.append(pds.field("role").isin(list(qf.roles)))
    if qf.tools:
        clauses.append(pds.field("tool").isin(list(qf.tools)))
    if qf.conv_ids:
        clauses.append(pds.field("conv_id").isin(list(qf.conv_ids)))
    if qf.ts_from or qf.ts_to:
        ts_type = schema.field("ts").type
        if qf.ts_from:
            clauses.append(pds.field("ts") >= _ts_scalar(qf.ts_from, ts_type))
        if qf.ts_to:
            clauses.append(pds.field("ts") < _ts_scalar(qf.ts_to, ts_type))
    if qf.fields:
        for col, vals in sorted(qf.fields.items()):
            if schema.get_field_index(col) < 0:
                raise KeyError(f"unknown fq field {col!r} (not in doc_attrs sidecar)")
            clauses.append(pds.field(col).isin(list(vals)))
    if not clauses:
        return None
    e = clauses[0]
    for c in clauses[1:]:
        e = e & c
    return e


def _intervals(ids: np.ndarray, max_intervals: int = _MAX_INTERVALS):
    """Sorted ids → ≤max_intervals [lo, hi] covering intervals, split at
    the largest gaps (localizes the row-group envelope around candidate
    clusters instead of one corpus-spanning range)."""
    if ids.size == 0:
        return []
    if ids.size == 1 or max_intervals <= 1:
        return [(int(ids[0]), int(ids[-1]))]
    gaps = np.diff(ids)
    k = min(max_intervals - 1, int((gaps > 1).sum()))
    if k <= 0:
        return [(int(ids[0]), int(ids[-1]))]
    cut_idx = np.sort(np.argpartition(gaps, -k)[-k:])
    starts = np.concatenate(([0], cut_idx + 1))
    ends = np.concatenate((cut_idx, [ids.size - 1]))
    return [(int(ids[s]), int(ids[e])) for s, e in zip(starts, ends)]


def attr_passing_ids(bidx, qf: QueryFilters, ids: np.ndarray) -> np.ndarray:
    """Subset of ``ids`` whose sidecar attributes pass ``qf`` — sorted
    unique int64. Driver-side pyarrow scan: doc_id selection (exact isin
    for small sets, gap-split interval envelope otherwise) AND the
    attribute predicate, both pushed to row-group stats pruning."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    ds = _pa_attrs(bidx)
    if ds is None:
        raise RuntimeError("attr_passing_ids needs a doc_attrs sidecar (save_doc_attrs)")
    ids = np.unique(np.asarray(ids, dtype=np.int64))
    if ids.size == 0:
        return ids
    expr = _qf_expr(qf, ds.schema)
    if ids.size <= _ISIN_CAP:
        sel = pds.field("doc_id").isin(pa.array(ids))
        post_mask = False
    else:
        parts = [
            (pds.field("doc_id") >= lo) & (pds.field("doc_id") <= hi)
            for lo, hi in _intervals(ids)
        ]
        sel = parts[0]
        for p in parts[1:]:
            sel = sel | p
        post_mask = True
    e = sel if expr is None else (sel & expr)
    got = (
        ds.to_table(columns=["doc_id"], filter=e)
        .column("doc_id")
        .to_numpy()
        .astype(np.int64)
    )
    got = np.unique(got)
    if post_mask:
        got = got[np.isin(got, ids, assume_unique=True)]
    return got


def to_doc_filter_df(bidx, qf: QueryFilters, documents=None):
    """Cluster-route form of the same filter: a (doc_id) DataFrame.
    Prefers the sidecar (skinny scan, no text columns); falls back to a
    provided documents table. Mirrors filter_documents clauses exactly
    (both go through filter_documents)."""
    from nexlt_spark.query.exact import filter_documents

    spark = bidx.doc_stats.sparkSession
    path = getattr(bidx, "store_path", None)
    if path is not None and has_attrs(bidx):
        src = spark.read.parquet(f"{path}/{ATTRS_DIR}")
    elif documents is not None:
        src = documents
    else:
        raise RuntimeError(
            "to_doc_filter_df needs a doc_attrs sidecar or a documents table"
        )
    return filter_documents(src, qf).select("doc_id")
