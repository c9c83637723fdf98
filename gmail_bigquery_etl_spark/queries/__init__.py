"""Declared query corpus.

Each submodule registers queries via the shared registry decorator, in
import order; the driver contract (__spark_entry__.py) re-exports
ALL_QUERIES / ALL_ORACLES in its computed rotation order.
"""

from __future__ import annotations

from .registry import ALL_ORACLES, ALL_QUERIES

# Import for registration side effects.
from . import text as _text  # noqa: E402,F401  (text analysis + dedup family)
from . import similarity as _similarity  # noqa: E402,F401  (kNN/ANN/embeddings)
from . import multimodal as _multimodal  # noqa: E402,F401
from . import ingest as _ingest  # noqa: E402,F401  (reference-parity ETL)
from . import events as _events  # noqa: E402,F401
from . import tpch as _tpch  # noqa: E402,F401
from . import pipeline as _pipeline  # noqa: E402,F401  (split/shard assembly)
from . import warehouse as _warehouse  # noqa: E402,F401  (merge/SCD2/profiling)
from . import curation as _curation  # noqa: E402,F401  (corpus curation ops)
from . import webcorpus as _webcorpus  # noqa: E402,F401  (HTML extract, CCNet dedup)
from . import entity as _entity  # noqa: E402,F401  (fuzzy entity resolution)
from . import graph as _graph  # noqa: E402,F401  (BFS/k-core over dup pairs)
from . import retrieval as _retrieval  # noqa: E402,F401  (BM25 ranked search)
from . import quality as _quality  # noqa: E402,F401  (write-path contracts)
from . import sampling as _sampling  # noqa: E402,F401  (KMV sketch/sampling)
from . import cep as _cep  # noqa: E402,F401  (sequence pattern matching)
from . import recsys as _recsys  # noqa: E402,F401  (item-CF recommendations)

__all__ = ["ALL_QUERIES", "ALL_ORACLES"]
