"""One size estimate per frame: an upper bound on its rows, and the
source that proved it.  :func:`size` is the package's only reader of
Catalyst statistics; every lane gate reads its :class:`Size`.  It gates
on a bound that can be proved, not on an estimate (*Tighter Upper
Bounds for Join Cardinality Estimates*, SIGMOD 2018)."""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import unquote, urlparse

#: plan bytes of one default input split: a frame that is not
#: materialized is collected in one task only under it, and its parquet
#: footers are read only under it
SCAN_BYTES = 128 << 20

#: plan nodes whose output rows never exceed their child's
_ROW_PRESERVING = frozenset({
    "Project", "Filter", "Sort", "Repartition", "RepartitionByExpression",
    "RebalancePartitions", "GlobalLimit", "LocalLimit", "Offset", "Tail",
    "Aggregate", "Deduplicate", "Window", "CollectMetrics", "SubqueryAlias",
})


@dataclass(frozen=True)
class Size:
    """``rows_max``: an upper bound on the rows, None when unknown;
    ``bytes``: Catalyst's estimate, None when unknown; ``cached``: the
    rows are materialized (every leaf a filled cache, or counted by the
    job that materialized them); ``source`` of ``rows_max``: ``"cache"``
    (exact), ``"plan"``, ``"footer"`` (local parquet footers),
    ``"observed"`` (a ``_materialize`` count) or ``"unknown"``."""

    rows_max: int | None = None
    bytes: int | None = None
    cached: bool = False
    source: str = "unknown"

    @classmethod
    def observed(cls, n: int) -> "Size":
        return cls(rows_max=int(n), cached=True, source="observed")

    def collectable(self, max_rows: int) -> bool:
        """The one rule for a driver collect: at most ``max_rows`` rows,
        and materialized or at most ``SCAN_BYTES``.  An unknown row
        count passes on its bytes alone."""
        if self.rows_max is not None and self.rows_max > max_rows:
            return False
        return self.cached or (self.bytes is not None and self.bytes <= SCAN_BYTES)


def size(df) -> Size:
    """``df``'s :class:`Size`, with no job.  A row count the plan's root
    lacks is carried up from the leaf under row-preserving nodes: a
    filled cache's, or a local parquet scan's footer row counts
    (``pyarrow.parquet.read_metadata`` over the scan's own files).  A
    ``Union`` sums its children's bounds, under the least exact of their
    sources (cache, plan, footer), and has none if one child has none."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        n_bytes = int(plan.stats().sizeInBytes())
        n_bytes = n_bytes if n_bytes < (1 << 63) - 1 else None  # Long.MaxValue: unknown
        leaves = [plan.collectLeaves().apply(i) for i in range(plan.collectLeaves().size())]
        cached = all(leaf.nodeName() == "InMemoryRelation"
                     and leaf.cacheBuilder().isCachedColumnBuffersLoaded() for leaf in leaves)
        small = n_bytes is not None and n_bytes <= SCAN_BYTES
        rows, src = _rows_max(plan, cached, small)
        return Size(rows, n_bytes, cached, src)
    except Exception:
        return Size()


def _rows_max(node, cached: bool, small: bool) -> tuple[int | None, str]:
    """``(rows_max, source)`` of the plan under ``node``; footers are
    read only when the whole plan is ``small``."""
    while not node.stats().rowCount().isDefined():
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if node.nodeName() == "Union":
            bounds = [_rows_max(kid, cached, small) for kid in kids]
            if any(rows is None for rows, _ in bounds):
                return None, "unknown"
            src = max((s for _, s in bounds), key=("cache", "plan", "footer").index)
            return sum(rows for rows, _ in bounds), src
        if node.nodeName() not in _ROW_PRESERVING or len(kids) != 1:
            rows = _footer_rows(node) if small else None
            return rows, "unknown" if rows is None else "footer"
        node = kids[0]
    src = "cache" if node.nodeName() == "InMemoryRelation" and cached else "plan"
    return int(node.stats().rowCount().get()), src


def _footer_rows(leaf) -> int | None:
    """Footer row counts of a parquet scan over local files, summed.
    The files are the scan's own, not the frame's ``inputFiles()``:
    that list is deduplicated, so a self-union would count them once."""
    scan = leaf.nodeName() == "LogicalRelation" and leaf.relation().fileFormat().shortName()
    files = list(leaf.relation().location().inputFiles()) if scan == "parquet" else []
    if not files or not all(f.startswith("file:") for f in files):
        return None
    import pyarrow.parquet as pq  # on first use: most frames never read a footer

    return sum(pq.read_metadata(unquote(urlparse(f).path)).num_rows for f in files)
