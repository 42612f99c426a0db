"""bloomjoin_spark — a from-scratch PySpark-native mergeable-sketch
engine with the query capabilities of gojiplus/bloomjoin.

Flagship: ``bloom_join`` — Bloom-filter semi-join prefilter in front of
a native Spark join (results exactly identical to ``df.join``; false
positives only waste work). Generalized into a mergeable sketch suite:
Bloom, HyperLogLog, count-min, t-digest, KLL — each an associative,
commutative two-phase aggregate built with vectorized pandas/Arrow
UDFs, never per-row Python.
"""

from . import _worker
from .aggregate import (
    BuildResult,
    build_sketch,
    build_sketches,
    grouped_sketch_estimates,
    grouped_topk,
)
from .operators import (
    PreparedCorpus,
    fd_sketch,
    grouped_spectral_mass,
    pca_project,
    bloom_join,
    contaminated_docs,
    decontaminate,
    prepare_corpus,
)
from .plans import BloomJoinReport
from .store import (
    append_sketch_snapshot,
    read_sketch_store,
    sketch_store_sink,
    store_estimates,
    store_sketch,
)
from .sketches import (
    BloomSketch,
    CmsSketch,
    FrequentDirectionsSketch,
    HllSketch,
    KllSketch,
    Sketch,
    TDigestSketch,
    ThetaSketch,
    TopKSketch,
    bloom_params,
    format_bloom_params,
    bloom_sizing,
    cms_params,
)

# in a PySpark worker: unchanged zips stop being re-read on every task
_worker.install()

__version__ = "0.1.0"

__all__ = [
    "BloomJoinReport",
    "BloomSketch",
    "BuildResult",
    "CmsSketch",
    "FrequentDirectionsSketch",
    "HllSketch",
    "KllSketch",
    "Sketch",
    "TDigestSketch",
    "ThetaSketch",
    "TopKSketch",
    "bloom_join",
    "bloom_params",
    "contaminated_docs",
    "decontaminate",
    "prepare_corpus",
    "PreparedCorpus",
    "fd_sketch",
    "grouped_spectral_mass",
    "pca_project",
    "format_bloom_params",
    "bloom_sizing",
    "build_sketch",
    "build_sketches",
    "grouped_sketch_estimates",
    "grouped_topk",
    "cms_params",
    "append_sketch_snapshot",
    "read_sketch_store",
    "sketch_store_sink",
    "store_estimates",
    "store_sketch",
]
