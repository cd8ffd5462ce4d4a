"""Python UDFs that run once per row.

Catalyst treats a deterministic Python UDF as an expression it may
copy. A filter on the UDF's output — the caller's ``where(length(text)
> 0)``, or the ``isnotnull(udf)`` it infers under a join or a filter —
is pushed below the projection that computes it, and the physical plan
then evaluates the UDF twice per row: one ``ArrowEvalPython`` under the
filter and one for the projected column (the pyspark ``pandas_udf``
docs: a deterministic UDF "may be invoked more times than it is
present in the query").

Marking the UDF nondeterministic stops both the push and the
inference, so each stage evaluates it once per row. The UDFs marked
here are in fact deterministic; the flag only fences the optimizer.
Its cost: a predicate on *other* columns no longer moves below the
projection either, so it runs after the UDF instead of at the scan.

Mark only a UDF that a plan evaluates twice. A grouped-map function
(``applyInPandas``) must stay deterministic: Spark rejects a
nondeterministic one with ``INVALID_NON_DETERMINISTIC_EXPRESSIONS``.
``tools/plan_audit.py`` flags any registered plan that evaluates the
same Python call twice in one chain.
"""

from __future__ import annotations


def once_per_row(udf):
    """Decorator for a ``pandas_udf``: keep Catalyst from duplicating it
    under a filter on its output (see the module docstring)."""
    return udf.asNondeterministic()
