"""The one place a registry query is declared.

Each query module registers its queries with ``@query(name, oracle=...)``:
the name, the DataFrame function and the DuckDB oracle SQL sit together at
the definition. ``assembly.py`` then builds ``QUERIES`` and ``ORACLES``
in the order of its append-only ``QUERY_ORDER`` tuple.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame

QueryFn = Callable[..., DataFrame]


class DuplicateQueryError(ValueError):
    """A query name was registered twice."""


class EmptyOracleError(ValueError):
    """An oracle was given, but it is not a non-blank SQL string."""


class QueryOrderError(ValueError):
    """The order tuple and the registrations name different queries."""


class Registry:
    """Registered queries and their oracles, keyed by query name."""

    def __init__(self) -> None:
        self._queries: dict[str, QueryFn] = {}
        self._oracles: dict[str, str | None] = {}

    def query(self, name: str, *, oracle: str | None) -> Callable[[QueryFn], QueryFn]:
        """Register the decorated function as query ``name``.

        ``oracle`` is the DuckDB SQL whose result the query must match,
        or None for a query that has no exact oracle by design (say why
        at the registration). The function is returned unchanged.
        """
        if oracle is not None and (not isinstance(oracle, str) or not oracle.strip()):
            raise EmptyOracleError(f"query {name!r}: oracle must be non-blank SQL or None")

        def register(fn: QueryFn) -> QueryFn:
            if name in self._queries:
                raise DuplicateQueryError(
                    f"query {name!r} registered twice: {self._queries[name].__qualname__} "
                    f"and {fn.__qualname__}"
                )
            self._queries[name] = fn
            self._oracles[name] = oracle
            return fn

        return register

    def assemble(
        self, order: tuple[str, ...]
    ) -> tuple[dict[str, QueryFn], dict[str, str]]:
        """(QUERIES, ORACLES) in ``order``, which must name every
        registered query exactly once and nothing else."""
        counts = Counter(order)
        repeated = sorted(n for n, c in counts.items() if c > 1)
        unregistered = [n for n in counts if n not in self._queries]
        unordered = [n for n in self._queries if n not in counts]
        if repeated or unregistered or unordered:
            raise QueryOrderError(
                f"query order tuple repeats {repeated}, names unregistered "
                f"{unregistered} and leaves out registered {unordered}"
            )
        queries = {n: self._queries[n] for n in order}
        oracles = {n: self._oracles[n] for n in order if self._oracles[n] is not None}
        return queries, oracles


REGISTRY = Registry()
query = REGISTRY.query
