"""Catalyst plan barriers: stop cross-stage expression re-derivation.

The r10 optimization round's funnel finding (guide §7.2 "duplicated
subtrees", §1.2 step 1): when map-only curation stages chain —
``Project(stage1) -> Filter(keep1) -> Project(stage2) -> Filter(keep2)
-> ...`` — Catalyst's predicate pushdown substitutes every column alias
a pushed condition references with its DEFINING EXPRESSION
(``replaceAlias`` is unconditional, with no cost model), and pushes the
combined conditions all the way to the scan. Each stage's references to
the previous stage's output text multiply, so the final plan
re-derives the upstream stage expressions once per reference: the
composed C4 -> Gopher -> annotate -> filter chain of the curation
funnel optimized to ONE bottom filter containing 40 copies of the C4
``array_join(kept_lines)`` expression and 112 ``split`` calls
(measured 4.26 s at sf0.1 for a chain whose stages cost 0.16-0.27 s
each in isolation).

:func:`opt_barrier` wraps a column in a value-identity expression that
Catalyst must treat as NON-DETERMINISTIC — ``element_at(array(col),
cast(rand(seed) * 0 + 1 as int))``: the index is 1 on every
evaluation, so the value (including NULL) is ``col`` unchanged, per
row, retries included. Because the alias is non-deterministic:

- ``PushPredicateThroughNonJoin`` cannot push any predicate through
  the projection holding it (``fields.forall(_.deterministic)`` gate),
  so downstream filters stop ABOVE the stage output and reference its
  columns as attributes instead of inlining their definitions;
- ``CollapseProject`` cannot merge it into downstream projections.

The pre-dedup funnel chain drops 4.26 s -> 1.25 s at sf0.1 (plan:
40 ``array_join`` -> 1, 112 ``split`` -> 23), with ``exceptAll``
row equality in both directions. Cost: one rand() call and a
one-element array copy per row — nanoseconds next to the regex passes
it deduplicates.

When to use: at a STAGE BOUNDARY whose output column is expensive to
compute and consumed by further derivation + filtering (the funnel's
cleaned text, a staged token array). When NOT to use: columns that
downstream predicates should push through to the scan (partition /
pruning keys) — the barrier blocks ALL pushdown through its
projection, which is the point, but only where nothing useful pushes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fixed seed: the barrier must be non-deterministic to the OPTIMIZER
# but canonically STABLE across plan builds — an unseeded expression
# (e.g. shuffle()) draws a fresh seed at every analysis, so two builds
# of the same query no longer canonicalize equal and CacheManager
# lookups of persisted subtrees MISS (measured: corpus_funnel warm
# runs +25% with an unseeded shuffle() barrier, neutral with rand(42)).
_SEED = 42


def opt_barrier(col: Column) -> Column:
    """Value-identity wrapper — ``element_at(array(col),
    cast(rand(seed) * 0 + 1 as int))`` — that blocks predicate pushdown
    and projection collapse through the alias it defines; see the
    module docstring for when and why. The index is 1 on every
    evaluation (task retries included) so the value, NULL included, is
    ``col``; but ``rand`` keeps the expression non-deterministic to the
    optimizer, which is the entire point. (The simpler
    ``when(rand() >= -1, col)`` form is eliminated by Spark 4's
    conditional simplification; the arithmetic identity is not.)"""
    idx = (F.rand(_SEED) * 0 + 1).cast("int")
    return F.element_at(F.array(col), idx)
