"""The regex tier: the batch operator with a C-speed matcher.

:func:`match_pattern_regex` is operators/cep_batch.py's ``match_pattern``
— the same staging (``sort_by_key`` + ``_stage_exprs`` + ``scan_sorted``)
and the same ``batch_scan`` emission (measures, ALL ROWS rows,
MATCH_NUMBER, ``tag``) — whose matcher is one compiled Python ``re``
pattern instead of the NFA:

- a row's symbol is the bitmask of its DEFINE predicates (one bit per
  distinct predicate, NULL read as false, as staged), and a variable is
  the character class of the masks that have its bit set;
- each Arrow batch becomes ONE string, with a separator character, in no
  class, after each key group of its ``bounds``, so ``re`` scans a batch
  in C with one Python call per match, not per row;
- a match's span maps back to the NFA's ``{var: (first, last, count,
  first_ord, last_ord)}`` dicts (group rows as ordinals, which order
  alike), so the emission cannot tell the two matchers apart.

The tier applies (:func:`regex_plan`) only where regex preferment
provably picks the NFA's completion (operators/nfa.py); every other spec
runs on the NFA reference. The cases:

1. **Positional shapes**: every element fixed-width (a once-variable or
   ``V{n}``) except at most one — a quantified variable, or a group
   ``(X1 .. XL)+`` of once-variables. That element decides each
   completion of a start, and a match's start and length place every
   row's variable.

   - ``eager`` derivation (first completion) makes the element lazy;
     ``longest`` (the held most-rows completion, ``Nfa._pref_key``) makes
     it greedy, backtracking against the suffix. A reluctant variable
     stays lazy under ``longest``, as its preference is fewer rows.
   - ``eager`` with SKIP PAST LAST ROW or TO FIRST/LAST: the NFA emits at
     the earliest completion row the earliest start completing there.
     With a fixed prefix, one quantified variable and a fixed suffix, a
     later start never completes before an earlier one that completes
     (the earlier start's rows between its prefix and the later start's
     suffix are all the quantified variable's, so it completes there
     too), so that is the leftmost search. A loop group under ``eager``
     has no such order and stays on the NFA.

2. **Symbol-forced shapes** (``longest`` only: nested groups, branch
   groups ``(A B | C D)+``): once-variables with pairwise different
   predicates. On a key group where no row satisfies two of them, each
   row's variable is its symbol, the parse is deterministic, and greedy
   backtracking stops at the last completion on it — the most-rows one
   the NFA holds. A key group with such a row runs on the NFA
   (:func:`~flink_cep_examples_spark.operators.cep_batch.nfa_matcher`),
   as the retired nested and branch kernels fell back per partition.

3. **Top-level alternations** of positional alternatives: ``leftmost``
   derivation is regex leftmost-first in listed order, each alternative
   lazy (its first completion) unless it is a greedy loop, whose latest
   completion the coordinator keeps; ``eager`` needs fixed-width
   alternatives, tried shortest first, so the first that matches ends
   first. PERMUTE runs as its ``permute_to_alternation``.

Start selection. ``longest`` and ``leftmost`` resolve starts in start
order under SKIP PAST LAST ROW, so each match is the leftmost search and
the next search resumes after it. SKIP TO NEXT ROW, and NO_SKIP where a
start has at most one completion, match each start on its own (resume at
start + 1). SKIP TO FIRST/LAST resumes at the variable's row. ``WITHIN``:
the NFA drops a run at its first row with ``ts >= ts[start] + within``,
so the match from a start is ``rx.match(text, start, endpos)`` with that
row as ``endpos`` — exact even where the greedy completion overruns the
deadline and a shorter one fits.

Declined, so the NFA serves them: timeouts, absence variables,
``until``, PREV/NEXT, relaxed contiguity, NO_SKIP with several
completions per start, and more distinct predicates than
:data:`MAX_PREDICATES`.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from typing import NamedTuple

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_cep_examples_spark.operators.cep_batch import (
    MatchBatch,
    _scan_pattern,
    nfa_matcher,
)
from flink_cep_examples_spark.plans.pattern import (
    NO_SKIP,
    ONCE,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_FIRST,
    SKIP_TO_LAST,
    SKIP_TO_NEXT,
    STRICT,
    TIMES,
    AlternationSpec,
    PatternSpec,
    permute_to_alternation,
)
from flink_cep_examples_spark.schemas import MATCH_TAG

Spec = PatternSpec | AlternationSpec

#: distinct predicates a spec may have: 2**10 symbols plus the separator
MAX_PREDICATES = 10

#: ``_TS`` of a row whose order column is NULL (sorted last in its group)
_NULL_TS = np.iinfo(np.int64).min


class _Alt(NamedTuple):
    """One top-level alternative of the regex: a positional shape's
    ``spans(a, b)`` (:func:`_positional_spans`), or a symbol-forced
    shape's ``(variable, bit)`` pairs."""

    index: int
    spans: object = None
    bits: tuple = ()


class RegexPlan(NamedTuple):
    source: str
    #: staged predicate row of each symbol bit
    pred_rows: tuple[int, ...]
    alts: tuple[_Alt, ...]
    #: where the next search starts: "end", "start" or the skip variable
    resume: str
    skip_var: str | None
    within_us: int | None
    #: symbol-forced: key groups with a row of two predicates run the NFA
    forced: bool


def _char_class(bit: int, n_bits: int) -> str:
    """The masks below ``2**n_bits`` with ``bit`` set, as a class."""
    step = 1 << bit
    return "[" + "".join(
        f"\\u{lo:04x}-\\u{lo + step - 1:04x}" if step > 1 else f"\\u{lo:04x}"
        for lo in range(step, 1 << n_bits, 2 * step)
    ) + "]"


def _quantifier(v) -> str:
    if v.quantifier == TIMES:
        lo, hi = v.times
        return f"{{{lo},{'' if hi is None else hi}}}"
    return {"one_or_more": "+", "zero_or_more": "*", "optional": "?"}.get(
        v.quantifier, ""
    )


def _width(v) -> int | None:
    """Rows a fixed-width variable consumes, else None."""
    if v.quantifier == ONCE:
        return 1
    if v.quantifier == TIMES and v.times[0] == v.times[1]:
        return v.times[0]
    return None


def _positional(spec: PatternSpec):
    """``(layout, fixed, element)`` when ``spec`` is a positional shape
    (module docstring, case 1) — ``element`` the variable-width atom or
    None — else None."""
    groups = spec.loop_groups
    if len(groups) > 1 or spec.loop_branches:
        return None
    gs, ge = groups[0] if groups else (-1, -2)
    layout, fixed, element = [], 0, None
    i = 0
    while i < len(spec.variables):
        if i == gs:
            body = spec.variables[gs : ge + 1]
            if element is not None or any(v.quantifier != ONCE for v in body):
                return None
            element = ("loop", tuple(v.name for v in body), len(body))
            layout.append(element)
            i = ge + 1
            continue
        v = spec.variables[i]
        w = _width(v)
        if w is None:
            if element is not None:
                return None
            element = ("var", v.name, None)
            layout.append(element)
        else:
            layout.append(("fixed", v.name, w))
            fixed += w
        i += 1
    return tuple(layout), fixed, element


def _admissible(spec: PatternSpec) -> bool:
    """The declines every shape shares (module docstring)."""
    return not (
        spec.emit_timeouts
        or spec.nav_cols
        or any(
            v.negated
            or v.until is not None
            or v.combinations
            or (i > 0 and v.contiguity != STRICT)
            or v.loop_contiguity not in (None, STRICT)
            for i, v in enumerate(spec.variables)
        )
    )


class _Builder:
    """Regex source over the symbol classes of the distinct predicates."""

    def __init__(self, specs):
        preds, rows, row = [], [], 0
        for s in specs:
            for e in s.pred_exprs:
                if e not in preds:
                    preds.append(e)
                    rows.append(row)
                row += 1
        self.preds, self.pred_rows = preds, tuple(rows)

    def cls(self, v) -> str:
        return _char_class(self.preds.index(v.predicate), len(self.preds))

    def positional(self, layout, spec, lazy: bool) -> str:
        by_name = {v.name: v for v in spec.variables}
        out = []
        for kind, names, width in layout:
            if kind == "loop":
                body = "".join(self.cls(by_name[n]) for n in names)
                out.append(f"(?:{body})+" + ("?" if lazy else ""))
            elif kind == "var":
                v = by_name[names]
                out.append(self.cls(v) + _quantifier(v) + ("?" if lazy else ""))
            else:
                out.append(self.cls(by_name[names]) + (
                    f"{{{width}}}" if width > 1 else ""
                ))
        return "".join(out)

    def nested(self, spec: PatternSpec) -> str:
        """Greedy regex of a spec's groups (nested, or one branch
        group), each variable once."""
        groups = set(spec.loop_groups)
        branch_group = spec.loop_groups[0] if spec.loop_branches else None

        def seq(lo, hi, inside):
            out, i = [], lo
            while i <= hi:
                starting = [
                    g for g in groups
                    if g[0] == i and g[1] <= hi and g != inside
                ]
                if not starting:
                    out.append(self.cls(spec.variables[i]))
                    i += 1
                    continue
                g = max(starting, key=lambda g: g[1])
                if g == branch_group:
                    body = "|".join(
                        seq(bs, be, g) for bs, be in spec.loop_branches
                    )
                else:
                    body = seq(g[0], g[1], g)
                out.append(f"(?:{body})+")
                i = g[1] + 1
            return "".join(out)

        return seq(0, len(spec.variables) - 1, None)


def _within_us(spec) -> int | None:
    return (
        None if spec.within is None
        else int(spec.within.total_seconds() * 1_000_000)
    )


def _resume(after: str) -> str:
    return {
        SKIP_PAST_LAST_EVENT: "end", SKIP_TO_NEXT: "start", NO_SKIP: "start",
        SKIP_TO_FIRST: "first", SKIP_TO_LAST: "last",
    }[after]


def _min_rows(spec: PatternSpec, fixed: int, element) -> int:
    """Fewest rows a positional shape matches (a zero-row match is never
    emitted, and ``re`` would find one)."""
    if element is None or element[0] == "loop":
        return fixed + (element[2] if element else 0)
    return fixed + spec.variables[spec.var_index(element[1])].min_count


def _single_plan(spec: PatternSpec) -> RegexPlan | None:
    b = _Builder([spec])
    if len(b.preds) > MAX_PREDICATES:
        return None
    eager = spec.derivation == "eager"
    pos = _positional(spec)
    if pos is not None:
        layout, fixed, element = pos
        if element is None:
            lazy = False  # one completion per start
        elif eager:
            if element[0] == "loop":
                return None  # no start order (module docstring)
            lazy = True
        else:
            names = element[1] if element[0] == "loop" else (element[1],)
            greedy = {spec.variables[spec.var_index(n)].greedy for n in names}
            if len(greedy) != 1:
                return None
            lazy = not greedy.pop()
        if spec.after_match == NO_SKIP and eager and element is not None:
            return None  # several completions per start
        if _min_rows(spec, fixed, element) == 0:
            return None
        alt = _Alt(0, _positional_spans(layout, fixed))
        source = b.positional(layout, spec, lazy)
        forced = False
    else:
        if eager or len(set(b.preds)) != len(spec.variables) or any(
            v.quantifier != ONCE or not v.greedy for v in spec.variables
        ):
            return None
        alt = _Alt(0, bits=tuple(
            (v.name, b.preds.index(v.predicate)) for v in spec.variables
        ))
        source = b.nested(spec)
        forced = True
    return RegexPlan(
        source=f"({source})",
        pred_rows=b.pred_rows,
        alts=(alt,),
        resume=_resume(spec.after_match),
        skip_var=spec.skip_var,
        within_us=_within_us(spec),
        forced=forced,
    )


def _alternation_plan(spec: AlternationSpec) -> RegexPlan | None:
    alts = spec.alternatives
    if len({a.within for a in alts}) != 1:
        return None
    b = _Builder(alts)
    if len(b.preds) > MAX_PREDICATES:
        return None
    layouts = [_positional(a) for a in alts]
    if any(p is None for p in layouts):
        return None
    if spec.derivation == "eager":
        if any(element is not None for _, _, element in layouts):
            return None
        if spec.after_match == NO_SKIP:
            return None  # every completing alternative would emit
        widths = {fixed for _, fixed, _ in layouts}
        if spec.after_match == SKIP_PAST_LAST_EVENT and len(widths) != 1:
            return None  # a shorter later start can complete first
        order = sorted(range(len(alts)), key=lambda i: (layouts[i][1], i))
        lazy = [False] * len(alts)
    else:
        order = list(range(len(alts)))
        # the coordinator keeps a greedy loop's latest completion and
        # every other alternative's first (nfa.Nfa.greedy_loops)
        lazy = [
            not (a.loop_groups and all(
                v.greedy for s, e in a.loop_groups for v in a.variables[s : e + 1]
            ))
            for a in alts
        ]
    if any(_min_rows(a, p[1], p[2]) == 0 for a, p in zip(alts, layouts)):
        return None
    source = "|".join(
        f"({b.positional(layouts[i][0], alts[i], lazy[i])})" for i in order
    )
    return RegexPlan(
        source=source,
        pred_rows=b.pred_rows,
        alts=tuple(
            _Alt(i, _positional_spans(*layouts[i][:2])) for i in order
        ),
        resume=_resume(spec.after_match),
        skip_var=None,
        within_us=_within_us(alts[0]),
        forced=False,
    )


def _as_matched(spec: Spec) -> Spec:
    """The spec the matcher runs: PERMUTE as its alternation."""
    if isinstance(spec, PatternSpec) and spec.permute:
        return permute_to_alternation(spec)
    return spec


def regex_plan(spec: Spec) -> RegexPlan | None:
    """The compiled plan of ``spec``, or None where the tier declines
    (module docstring). Structural only: no Spark job."""
    if isinstance(spec, PatternSpec) and spec.permute and (
        spec.after_match != SKIP_TO_NEXT
        or spec.nav_cols
        or spec.emit_timeouts
        or spec.rows_per_match != "one"
    ):
        return None
    try:
        spec = _as_matched(spec).validate()
    except (ValueError, NotImplementedError):
        return None
    if isinstance(spec, AlternationSpec):
        if not all(map(_admissible, spec.alternatives)):
            return None
        return _alternation_plan(spec)
    return _single_plan(spec) if _admissible(spec) else None


def _positional_spans(layout, fixed: int):
    """``spans(a, b)``: the NFA's match dict of a positional match
    ``[a, b)`` — fixed atoms at constant offsets from the start or the
    end, the variable-width element in between."""
    k = next((i for i, atom in enumerate(layout) if atom[0] != "fixed"), len(layout))

    def offsets(atoms, base):
        out, off = [], base
        for _, name, width in atoms:
            out.append((name, off, off + width - 1, width))
            off += width
        return out

    head = offsets(layout[:k], 0)
    pre = head[-1][2] + 1 if head else 0
    tail = offsets(layout[k + 1 :], pre - fixed)  # offsets from the end
    element = layout[k] if k < len(layout) else None

    def spans(a, b):
        out = {n: (a + o, a + e, w, a + o, a + e) for n, o, e, w in head}
        if tail:
            out.update({n: (b + o, b + e, w, b + o, b + e) for n, o, e, w in tail})
        if element is not None:
            first, free = a + pre, b - a - fixed
            if element[0] == "var":
                if free:
                    last = first + free - 1
                    out[element[1]] = (first, last, free, first, last)
            else:
                width = element[2]
                rounds = free // width
                for j, name in enumerate(element[1]):
                    last = first + (rounds - 1) * width + j
                    out[name] = (first + j, last, rounds, first + j, last)
        return out

    return spans


def _forced_spans(bits, codes: np.ndarray, a, b, lo) -> list[dict]:
    """Spans of symbol-forced matches ``codes[a:b]`` (every row's symbol
    is its one variable's bit), ``lo`` their groups' first positions —
    all of a batch's at once."""
    idx = np.arange(len(codes))
    a, b, lo = (np.asarray(x, dtype=np.int64) for x in (a, b, lo))
    columns = []
    for name, bit in bits:
        is_var = codes == (1 << bit)
        seen = np.concatenate(([0], np.cumsum(is_var)))
        count = seen[b] - seen[a]
        # the var's first row at or after a, and last row before b
        nxt = np.minimum.accumulate(np.where(is_var, idx, len(codes))[::-1])[::-1]
        prv = np.maximum.accumulate(np.where(is_var, idx, -1))
        columns.append((
            name, count.tolist(), (nxt[a] - lo).tolist(), (prv[b - 1] - lo).tolist()
        ))
    return [
        {
            name: (first[i], last[i], count[i], first[i], last[i])
            for name, count, first, last in columns
            if count[i]
        }
        for i in range(len(a))
    ]


def regex_batch(spec: Spec, plan: RegexPlan) -> MatchBatch:
    """The tier's :data:`~flink_cep_examples_spark.operators.cep_batch.
    MatchBatch`: one ``re`` scan over each batch's string."""
    rx = re.compile(plan.source)
    sep = 1 << len(plan.pred_rows)
    alternation = isinstance(spec, AlternationSpec)
    fallback = nfa_matcher(spec) if plan.forced else None
    within = plan.within_us

    def match_batch(preds, ts, bounds):
        if not bounds:
            return []
        base = bounds[0][0]
        los = np.fromiter((lo for lo, _ in bounds), np.int64, len(bounds))
        his = np.fromiter((hi for _, hi in bounds), np.int64, len(bounds))
        mask = np.zeros(his[-1] - base, dtype=np.uint32)
        for bit, row in enumerate(plan.pred_rows):
            mask |= preds[row, base : his[-1]].astype(np.uint32) << bit
        found = [None] * len(bounds)
        if fallback is not None:
            # a row of two predicates: its key group runs on the NFA
            multi = (mask & (mask - 1)) != 0
            if multi.any():
                gid = np.repeat(np.arange(len(bounds)), his - los)
                for g in np.unique(gid[multi]).tolist():
                    lo, hi = bounds[g]
                    found[g] = fallback(preds[:, lo:hi], ts[lo:hi])
                    mask[lo - base : hi - base] = sep
        # the string: each group's symbols, then a separator
        codes = np.insert(mask, his - base, sep)
        text = codes.astype("<u4").tobytes().decode("utf-32-le")
        starts = (los - base + np.arange(len(bounds))).tolist()
        lo_rows = los.tolist()
        if within is not None:
            ts_list = ts.tolist()
            hi_rows = his.tolist()
            # rows with a NULL order column sort last and never expire a
            # run (nfa.Nfa.advance_time compares against them as -inf)
            n_null = np.add.reduceat(ts[base : his[-1]] == _NULL_TS, los - base)
            timed_end = (his - n_null).tolist()
        groups = [[] for _ in bounds]
        forced = []  # (group, start, end) of symbol-forced matches
        search, anchored = rx.search, rx.match
        alts, resume, skip_var = plan.alts, plan.resume, plan.skip_var
        pos = 0
        while True:
            m = search(text, pos)
            if m is None:
                break
            a = m.start()
            g = bisect_right(starts, a) - 1
            if within is not None:
                r = a - starts[g] + lo_rows[g]
                end = timed_end[g]
                if r < end:
                    end = bisect_left(ts_list, ts_list[r] + within, r + 1, end)
                    if end == timed_end[g]:
                        end = hi_rows[g]
                else:
                    end = hi_rows[g]
                m = anchored(text, a, end - lo_rows[g] + starts[g])
                if m is None:
                    pos = a + 1
                    continue
            b = m.end()
            if fallback is not None:
                forced.append((g, a, b))
            else:
                alt = alts[m.lastindex - 1]
                match = alt.spans(a - starts[g], b - starts[g])
                groups[g].append((match, alt.index))
            if resume == "end":
                pos = b
            elif resume == "start":
                pos = a + 1
            else:  # SKIP TO FIRST/LAST: the variable's row, if it has one
                span = match.get(skip_var)
                pos = a + 1 if span is None else max(
                    a + 1, starts[g] + span[0 if resume == "first" else 1]
                )
        if forced:
            gs, a_s, b_s = zip(*forced)
            spans = _forced_spans(
                plan.alts[0].bits, codes, a_s, b_s, [starts[g] for g in gs]
            )
            for g, match in zip(gs, spans):
                groups[g].append((match, 0))
        # in MATCH_NUMBER order already: the search finds one match per
        # start, in start order, and where the NFA numbers by end
        # (eager single patterns) a later start never ends earlier
        for g, ms in enumerate(groups):
            if found[g] is None:
                found[g] = (
                    [m for m, _ in ms], [],
                    [a for _, a in ms] if alternation else None,
                )
        return found

    return match_batch


def match_pattern_regex(df: DataFrame, spec: Spec) -> DataFrame:
    """``match_pattern(df, spec)`` on the regex matcher; the tier table
    (operators/planner.py) runs it where :func:`regex_plan` applies."""
    matched = _as_matched(spec)
    out = _scan_pattern(df, matched, regex_batch(matched, regex_plan(spec)))
    if matched is not spec:  # PERMUTE: the single-pattern output's tag
        out = out.withColumn("tag", F.lit(MATCH_TAG))
    return out
