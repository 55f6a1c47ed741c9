"""Query/oracle registry package.

Each query module declares its queries with ``@query(name, oracle=...)``
(declare.py), the DuckDB oracle SQL beside the DataFrame function; the
plans/analytics.py queries are registered in analytics_plans.py.
assembly.py builds ``QUERIES`` and ``ORACLES`` in its append-only
``QUERY_ORDER`` and defines the bench tiers and the canary set.

Adding a query: decorate its function with ``@query("name", oracle=SQL)``
in the module where it fits, and append ``"name"`` to ``QUERY_ORDER``.

The names below past the assembly outputs are the helpers the tests
import from the package.
"""

from __future__ import annotations

from .assembly import (
    BENCH_QUERIES,
    CANARY_QUERIES,
    EAGER_BENCH_QUERIES,
    EXTENDED_BENCH_QUERIES,
    ORACLES,
    QUERIES,
    QUERY_ORDER,
)
from .declare import query
from .curation import BM25_QUERY
from .eval_temporal import q_event_conversion_absorption
from .events_analytics import _exact_ntile
from .shared import (
    corpus_from_documents,
    load_table,
    normalized_col,
    tokenize,
    word_count,
)
from .similarity import _query_vectors, _rank_quality_df, q_knn_cosine
from .text_shaping import BPE_MERGES
