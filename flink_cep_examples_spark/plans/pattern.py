"""Pattern specification + fluent DSL.

The logical plan of the CEP operator. Both front-ends compile here:

- the fluent Python DSL below mirrors the reference's Pattern builder
  (``Pattern.begin("A", skipPastLastEvent).where(...).next("B")
  .oneOrMore().optional().where(...).next("C").where(...)
  .within(Time.hours(1))`` — FlinkCEPExample.scala:58-74);
- the MATCH_RECOGNIZE-subset parser (sql/match_recognize.py) produces
  the same :class:`PatternSpec` (the reference's SQL and DSL paths
  converge on one operator too — FlinkSqlMatchRecognizeExample.scala:50-68).

Predicates are carried as **SQL boolean expression strings** over the
input columns. The executors evaluate them *vectorized in Spark SQL*
(one ``select`` adding boolean columns, whole-stage codegen) before any
Python sees a row — the NFA only ever reads precomputed booleans.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from datetime import timedelta

# ---------------------------------------------------------------------------
# Spec dataclasses (frozen: a spec is a logical plan node)
# ---------------------------------------------------------------------------

#: Quantifiers: how many rows a pattern variable may absorb.
ONCE = "once"
ONE_OR_MORE = "one_or_more"  # X+
ZERO_OR_MORE = "zero_or_more"  # X*  (= oneOrMore().optional() in Flink)
OPTIONAL = "optional"  # X?
TIMES = "times"  # X{n} / X{n,m} (Flink .times(n[, m]))

#: Contiguity between the previous variable and this one.
STRICT = "strict"  # Flink .next() / MATCH_RECOGNIZE native semantics
RELAXED = "relaxed"  # Flink .followedBy(): skip non-matching rows

#: After-match skip strategies.
SKIP_PAST_LAST_EVENT = "skip_past_last_event"
SKIP_TO_NEXT = "skip_to_next"  # ≤1 match per start row (SQL SKIP TO NEXT ROW)
NO_SKIP = "no_skip"
#: SQL:2016 AFTER MATCH SKIP TO FIRST/LAST <var> (Flink
#: ``AfterMatchSkipStrategy.skipToFirst/skipToLast``): on emission,
#: matching resumes AT the first/last row the named variable matched —
#: runs started at or after that row survive, earlier ones (and the
#: emitted run) are discarded. Requires ``PatternSpec.skip_var``.
SKIP_TO_FIRST = "skip_to_first"
SKIP_TO_LAST = "skip_to_last"

_INTERVAL_RE = re.compile(
    r"^\s*(\d+)\s*(ms|millisecond|milliseconds|s|sec|second|seconds|"
    r"m|min|minute|minutes|h|hour|hours|d|day|days)\s*$",
    re.IGNORECASE,
)

_UNIT_MS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "sec": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "min": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def parse_interval(text: str | timedelta | None) -> timedelta | None:
    """'1 hour' / '6 minutes' / timedelta → timedelta."""
    if text is None or isinstance(text, timedelta):
        return text
    m = _INTERVAL_RE.match(text)
    if not m:
        raise ValueError(f"cannot parse interval: {text!r}")
    return timedelta(milliseconds=int(m.group(1)) * _UNIT_MS[m.group(2).lower()])


@dataclass(frozen=True)
class PatternVar:
    """One pattern variable (A / B / C ...).

    ``negated`` marks a *non-consuming* absence constraint inside the
    pattern (Flink ``notNext``/``notFollowedBy``): no row matching
    ``predicate`` may appear in the gap this variable guards. Its
    ``contiguity`` encodes the flavor — STRICT = ``notNext`` (only the
    row immediately after the previous match is checked), RELAXED =
    ``notFollowedBy`` (every row until the next variable matches).
    """

    name: str
    predicate: str  # SQL boolean expression over input columns; "true" = always
    quantifier: str = ONCE
    contiguity: str = STRICT  # vs the previous variable; ignored for the first
    times: tuple[int, int | None] | None = None  # (min, max|None) for TIMES
    #: loop-iteration contiguity override (Flink ``consecutive()`` →
    #: STRICT, ``allowCombinations()`` → RELAXED+combinations). ``None``
    #: inherits the variable's own ``contiguity`` (documented deviation
    #: from Flink's always-relaxed default; see operators/nfa.py).
    loop_contiguity: str | None = None
    combinations: bool = False  # allowCombinations(): branch may skip a
    # matching loop row and still take a later one
    negated: bool = False
    #: Flink ``until(condition)``: SQL boolean stop condition for a
    #: looping variable — once a row satisfies it while the loop is
    #: reachable, no further rows are accepted into the loop (the
    #: stop row itself included); the rest of the pattern proceeds.
    until: str | None = None
    #: SQL:2016 quantifier preference (``B*`` greedy vs ``B*?``
    #: reluctant): when several branches of the SAME run complete on
    #: the SAME row, the one-match-per-run strategies prefer the branch
    #: where this variable absorbed more rows (greedy, default) or
    #: fewer (reluctant), leftmost variable deciding first. Emission
    #: stays eager (a match emits at the earliest completing row);
    #: greediness arbitrates simultaneous completions — observable with
    #: ``allowCombinations`` / epsilon-skippable loops.
    greedy: bool = True
    #: SQL:2016 pattern exclusion ``{- B -}``: the variable matches
    #: rows normally (the MATCH is unchanged — measures, skip
    #: strategies, and deadlines all still see them) but its rows are
    #: omitted from ALL ROWS PER MATCH output. No effect in ONE ROW
    #: PER MATCH (per the standard).
    excluded: bool = False

    @property
    def min_count(self) -> int:
        if self.quantifier == TIMES:
            return self.times[0]
        return 1 if self.quantifier in (ONCE, ONE_OR_MORE) else 0

    @property
    def max_count(self) -> int | None:
        """Max rows this variable may absorb; ``None`` = unbounded."""
        if self.quantifier == TIMES:
            return self.times[1]
        return 1 if self.quantifier in (ONCE, OPTIONAL) else None

    @property
    def can_loop(self) -> bool:
        return self.max_count is None or self.max_count > 1

    @property
    def optional(self) -> bool:
        return self.min_count == 0


#: Aggregate measure fns: evaluated over EVERY row the variable (or
#: SUBSET union) consumed. Reconstructing that row set from the NFA's
#: compact (first, last, count) spans requires strict contiguity
#: (MATCH_RECOGNIZE's own model) — validated on the spec.
AGG_FNS = ("sum", "min", "max", "avg", "count_col")
#: Match-level fns taking no variable/column at all.
NILADIC_FNS = ("classifier", "match_number")


@dataclass(frozen=True)
class Measure:
    """One output column computed from the match
    (MATCH_RECOGNIZE MEASURES / PatternProcessFunction projection,
    reference FlinkCEPExample.scala:78-92).

    ``fn`` ∈ {'first','last','count'} ∪ :data:`AGG_FNS` applied to
    variable (or SUBSET) ``var``'s matched rows' ``src`` column
    ('count' counts rows, ``var.*``; 'count_col' counts non-null
    ``src`` values, SQL ``COUNT(var.col)``), or a niladic match fn —
    'classifier' (name of the variable that matched the LAST row of
    the match, SQL:2016 ``CLASSIFIER()`` under ONE ROW PER MATCH) /
    'match_number' (1-based per-partition match ordinal in emission
    order, ``MATCH_NUMBER()``). For timeout rows, measures over
    variables the partial never reached yield ``default``.

    ``running`` (SQL:2016 ``RUNNING`` prefix) only matters under ALL
    ROWS PER MATCH: the measure sees the match's rows UP TO the
    current output row instead of the whole match. This engine's
    default is FINAL even in ALL ROWS (documented deviation — the
    standard defaults to RUNNING there; say ``RUNNING`` explicitly).
    In ONE ROW PER MATCH the two coincide (evaluated at the last row).
    """

    name: str
    var: str
    src: str
    fn: str = "first"
    default: object = None
    running: bool = False


@dataclass(frozen=True)
class PatternSpec:
    """Complete logical spec of a CEP query: PARTITION BY / ORDER BY /
    PATTERN / DEFINE / WITHIN / AFTER MATCH SKIP / MEASURES."""

    variables: tuple[PatternVar, ...]
    key_cols: tuple[str, ...] = ("id",)
    order_col: str = "event_time"
    tiebreak_col: str = "seq"
    #: True when the SQL body named the tiebreak itself (a second
    #: ORDER BY key) — then it wins over the API-level tiebreak_col
    #: parameter (match_recognize checks this flag, not a sentinel
    #: value, so an explicit ``ORDER BY ts, seq`` is not clobbered)
    explicit_tiebreak: bool = False
    within: timedelta | None = None
    after_match: str = SKIP_PAST_LAST_EVENT
    #: variable name for SKIP_TO_FIRST / SKIP_TO_LAST
    skip_var: str | None = None
    measures: tuple[Measure, ...] = field(default_factory=tuple)
    emit_timeouts: bool = False  # absence-of-event side output
    rows_per_match: str = "one"  # "one" | "all" (MATCH_RECOGNIZE modes)
    #: SQL:2016 ``PATTERN (PERMUTE (A, B, C))``: the variables match in
    #: ANY order (alternation over all orderings, preferred in
    #: lexicographic order of the listed sequence). Supported subset:
    #: once-variables, strict contiguity, ONE ROW PER MATCH, AFTER
    #: MATCH SKIP TO NEXT ROW; other modes raise. Batch runs the
    #: alternation ``permute_to_alternation`` on the regex tier
    #: (operators/regex_scan.py) or, as the NFA reference, on the batch
    #: operator; the stream runs the alternation coordinator over it.
    permute: bool = False
    #: SQL:2016 ``SUBSET U = (A, B)``: union variables usable in
    #: MEASURES — U's matched rows are the union of its components'
    #: rows. Stored as ((name, (component, ...)), ...).
    subsets: tuple[tuple[str, tuple[str, ...]], ...] = ()
    #: Unbounded group quantifier ``(X Y)+`` (SQL:2016 grouped
    #: one-or-more): each entry is an INCLUSIVE (start, end) index
    #: range over ``variables`` forming a sub-NFA loop — after the end
    #: variable completes an iteration, a branch may non-
    #: deterministically loop back to the start variable (consuming the
    #: next row into it) in addition to proceeding forward. ``(X Y)*``
    #: and ``(X Y){n,}`` compile to this at parse time (alternation /
    #: unrolled copies + a trailing ``+`` group — sql/match_recognize).
    #: Emission follows ``derivation``: the MATCH_RECOGNIZE front-end
    #: selects "longest" for greedy loop groups (SQL:2016
    #: most-iterations preferment, rounds 6-7 — including ``*`` via
    #: leftmost alternation with coordinator-held longest) and "eager"
    #: for reluctant ones (``+?``: earliest completion = fewest
    #: iterations); the Flink-tier Pattern DSL keeps eager. Iteration
    #: row spans per variable MERGE across iterations, so FIRST = first
    #: iteration's first row, LAST = last iteration's last row, and
    #: COUNT(var.*) counts rows across all iterations.
    loop_groups: tuple[tuple[int, int], ...] = ()
    #: Alternation INSIDE an unbounded group — ``(A B | C D)+``
    #: (round 8): inclusive (start, end) index sub-ranges partitioning
    #: the SINGLE loop group into its alternation branches. Every
    #: iteration matches exactly one branch; after a branch's end
    #: variable the run may loop back to ANY branch's start (or
    #: proceed past the group). Preference when branch predicates
    #: overlap follows the engine's per-variable row-count order
    #: (operators/nfa.py::_pref_key — leftmost-listed branch wins a
    #: tie), which coincides with SQL:2016 preferment whenever branch
    #: predicates are disjoint within a partition (the
    #: differential-tested regime, tests/test_group_alt_loop.py).
    loop_branches: tuple[tuple[int, int], ...] = ()
    #: SQL:2016 PREV()/NEXT() physical-row navigation in DEFINE
    #: predicates: each entry (alias, src_col, offset, kind) with kind
    #: ∈ {'prev', 'next'} materializes as a lag/lead column over the
    #: (key, order, tiebreak) window BEFORE predicate evaluation —
    #: navigation stays vectorized Catalyst, the NFA still only sees
    #: booleans. Predicates reference the alias. (Pattern navigation
    #: FIRST()/LAST() inside DEFINE is run-dependent and NOT
    #: precomputable — unsupported, the parser rejects it.)
    nav_cols: tuple[tuple[str, str, int, str], ...] = ()
    #: Loop-group emission derivation: "eager" (default — first
    #: completion per start wins, Flink's behavior; Flink rejects
    #: greedy group patterns outright) or "longest" (SQL:2016 greedy
    #: group quantifier: a completed match is HELD while the same
    #: start's loop branch is still alive, and the preferred —
    #: most-iterations — completion emits; operators/nfa.py holds the
    #: state in NfaState.helds, so streaming checkpoints carry it).
    #: The MATCH_RECOGNIZE front-end selects "longest" for
    #: single-alternative loop-group patterns; the Flink-tier Pattern
    #: API keeps "eager".
    derivation: str = "eager"

    @property
    def pred_exprs(self) -> tuple[str, ...]:
        """Every SQL boolean the engine must pre-evaluate per row, in
        the canonical order the NFA indexes them: one per variable,
        then the (at most one) until() stop condition."""
        out = [v.predicate for v in self.variables]
        out.extend(v.until for v in self.variables if v.until is not None)
        return tuple(out)

    def var_index(self, name: str) -> int:
        for i, v in enumerate(self.variables):
            if v.name == name:
                return i
        raise KeyError(name)

    def validate(self) -> "PatternSpec":
        names = [v.name for v in self.variables]
        if self.derivation not in ("eager", "longest"):
            raise ValueError(
                f"derivation must be 'eager' or 'longest': {self.derivation!r}"
            )
        if self.derivation == "longest":
            # held completions resolve through the normal match channel
            # only — the combinations below would route completions
            # around the hold (pendings) or need resumption-cutoff
            # coordination the hold doesn't model; all are loud, not
            # silent-eager (advisor round 5 discipline).
            # emit_timeouts composes since round 8: an expired run
            # whose start holds a completion is a decided match, never
            # a timeout (Nfa.advance_time's longest walk).
            if self.variables[-1].negated:
                raise NotImplementedError(
                    "'longest' derivation with a trailing absence "
                    "variable: timed-absence completions resolve as "
                    "pendings, bypassing the hold"
                )
            if self.after_match in (SKIP_TO_FIRST, SKIP_TO_LAST):
                raise NotImplementedError(
                    "'longest' derivation supports AFTER MATCH SKIP "
                    "PAST LAST ROW / SKIP TO NEXT ROW / NO SKIP (skip-"
                    "to-variable resumption is eager-only)"
                )
        if self.permute:
            if len(self.variables) > 4:
                raise ValueError(
                    "PERMUTE supports at most 4 variables "
                    f"({len(self.variables)} given: {len(names)}! orderings)"
                )
            bad = [
                v.name
                for v in self.variables
                if v.negated or v.quantifier != ONCE or v.until is not None
            ]
            if bad:
                raise ValueError(
                    f"PERMUTE variables must be plain once-variables: {bad}"
                )
            bad_m = [
                m.name
                for m in self.measures
                if m.fn not in ("first", "last", "count")
            ]
            if bad_m:
                raise NotImplementedError(
                    "PERMUTE measures support first/last/COUNT(var.*) "
                    f"only (the window closed form predates the extended "
                    f"fns): {bad_m}"
                )
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate pattern variable names: {names}")
        if not self.variables:
            raise ValueError("pattern needs at least one variable")
        positives = [v for v in self.variables if not v.negated]
        if not positives:
            raise ValueError("pattern needs at least one non-negated variable")
        if self.variables[0].negated:
            raise ValueError(
                "pattern cannot start with notNext/notFollowedBy "
                f"({self.variables[0].name})"
            )
        negated_names = {v.name for v in self.variables if v.negated}
        for v in self.variables:
            if v.quantifier == TIMES:
                lo, hi = v.times
                if lo < 0 or (hi is not None and hi < max(lo, 1)):
                    raise ValueError(f"bad times bounds on {v.name}: {v.times}")
            if v.negated and v.quantifier != ONCE:
                raise ValueError(
                    f"negated variable {v.name} cannot take a quantifier"
                )
        if self.after_match in (SKIP_TO_FIRST, SKIP_TO_LAST):
            if self.skip_var is None:
                raise ValueError(
                    "SKIP TO FIRST/LAST requires skip_var (the variable "
                    "whose first/last row matching resumes at)"
                )
            if self.skip_var not in names:
                raise ValueError(f"skip_var {self.skip_var!r} not in pattern")
            if self.skip_var in negated_names:
                raise ValueError(
                    f"skip_var {self.skip_var!r} is negated (never matches rows)"
                )
        loop_var_idx = {
            i for s, e in self.loop_groups for i in range(s, e + 1)
        }
        for i, v in enumerate(self.variables):
            if (
                not v.greedy
                and not (v.can_loop or v.optional)
                # round 7: greedy=False on a loop-group body var marks
                # a RELUCTANT group ((B C)+?) — the group quantifier
                # is what the preference applies to
                and i not in loop_var_idx
            ):
                raise ValueError(
                    f"reluctant() on {v.name} needs a quantifier "
                    "(once-variables have nothing to prefer)"
                )
        until_vars = [v for v in self.variables if v.until is not None]
        if len(until_vars) > 1:
            raise ValueError("at most one variable may carry until()")
        for v in until_vars:
            if v.negated or not v.can_loop:
                raise ValueError(
                    f"until() requires a looping positive variable ({v.name})"
                )
        # trailing negatives (absence at pattern end) need a deadline to
        # ever resolve (Flink has the same rule: notFollowedBy may only
        # end a pattern when within() is set)
        if self.variables[-1].negated:
            if self.variables[-1].contiguity == STRICT:
                raise ValueError(
                    "pattern cannot end with notNext; use notFollowedBy + within"
                )
            if self.within is None:
                raise ValueError(
                    "a pattern ending in notFollowedBy requires within()"
                )
        subset_names = set()
        for sname, components in self.subsets:
            if sname in names or sname in subset_names:
                raise ValueError(f"SUBSET name {sname!r} collides")
            subset_names.add(sname)
            if not components:
                raise ValueError(f"SUBSET {sname!r} is empty")
            for c in components:
                if c not in names:
                    raise ValueError(
                        f"SUBSET {sname!r} references unknown var {c!r}"
                    )
                if c in negated_names:
                    raise ValueError(
                        f"SUBSET {sname!r} references negated var {c!r}"
                    )
        measurable = set(names) | subset_names
        for m in self.measures:
            if m.fn in NILADIC_FNS:
                continue  # no variable/column reference
            if m.var not in measurable:
                raise ValueError(f"measure {m.name} references unknown var {m.var}")
            if m.var in negated_names:
                raise ValueError(
                    f"measure {m.name} references negated var {m.var} "
                    "(absence variables never match rows)"
                )
            if m.fn not in ("first", "last", "count") + AGG_FNS:
                raise ValueError(f"unsupported measure fn {m.fn}")
        if self.loop_groups:
            if self.permute:
                raise ValueError("loop groups cannot combine with PERMUTE")
            # RUNNING measures with a single-body unbounded group
            # compose since round 8: the running series walks the
            # var's ACTUAL rows — the stride-L arithmetic progression
            # from its merged span (operators/cep_batch.py::
            # _actual_spans), the same positional reconstruction ALL
            # ROWS emission uses. Multi-branch and NESTED groups have
            # no fixed stride; their ALL ROWS emission AND aggregate
            # measures classify rows by predicate instead (round 10,
            # cep_batch._actual_spans classify path) — validation
            # passes them through, and ambiguity (a row satisfying
            # two group vars' predicates) is a loud RUNTIME reject.
            spans_sorted = sorted(self.loop_groups)
            group_vars: set[str] = set()
            nested_vars: set[str] = set()
            # pairwise: DISJOINT or PROPERLY NESTED (round 8 —
            # ((A B)+ C)+ etc.): an inner group must end strictly
            # before its outer group's end variable (the outer needs
            # a distinct iteration-closing var; ((A B)+)+ degenerates
            # to (A B)+ — write that), and partial overlap is
            # meaningless
            for i, (s, e) in enumerate(spans_sorted):
                if not (0 <= s <= e < len(self.variables)):
                    raise ValueError(f"loop group ({s}, {e}) out of range")
                for s2, e2 in spans_sorted[i + 1 :]:
                    if s2 > e:
                        continue  # disjoint, later
                    if (
                        (s <= s2 and e2 <= e) or (s2 <= s and e <= e2)
                    ) and (s2, e2) != (s, e):
                        # one group nested inside the other; a SHARED
                        # end ((A (B C)+)+) is fine — the end
                        # variable's loop-back target set is the union
                        # of the groups' starts
                        nested_vars.update(
                            self.variables[j].name
                            for j in range(min(s, s2), max(e, e2) + 1)
                        )
                        continue
                    raise ValueError(
                        "loop groups must be disjoint or properly "
                        f"nested: {self.loop_groups}"
                    )
            if nested_vars:
                if self.loop_branches:
                    raise NotImplementedError(
                        "alternation branches inside NESTED unbounded "
                        "groups"
                    )
                # ALL ROWS PER MATCH with NESTED groups is supported
                # since round 10: iterations have no fixed row stride,
                # so per-row CLASSIFIER is reconstructed from the
                # variable predicates (runtime-disjointness-checked),
                # exactly like the multi-branch emitter —
                # operators/cep_batch.py::_classified_rows
                if self.emit_timeouts:
                    raise NotImplementedError(
                        "timeout emission with nested unbounded groups"
                    )
                # aggregate/RUNNING measures over nested-group vars
                # are supported since round 10: no fixed stride, so
                # the row set reconstructs per row from the variable
                # predicates (cep_batch._actual_spans classify path,
                # runtime-disjointness-checked; the nested kernels
                # decline such measures and the NFA tier serves them)
            for s, e in spans_sorted:
                seg = self.variables[s : e + 1]
                for v in seg:
                    if v.negated:
                        raise ValueError(
                            f"negated var {v.name} inside a loop group"
                        )
                    if v.until is not None:
                        raise NotImplementedError(
                            f"until() inside a loop group ({v.name})"
                        )
                    if v.contiguity != STRICT or (
                        (v.loop_contiguity or v.contiguity) != STRICT
                    ):
                        raise NotImplementedError(
                            f"loop-group var {v.name} must be strictly "
                            "contiguous (MATCH_RECOGNIZE semantics)"
                        )
                    group_vars.add(v.name)
                if seg[-1].optional:
                    raise ValueError(
                        f"the last variable of a loop group ({seg[-1].name}) "
                        "must be non-optional (it marks the iteration "
                        "boundary)"
                    )
                if s == e and not self.loop_branches:
                    raise ValueError(
                        f"single-variable loop group ({seg[0].name}): "
                        "use the variable's own quantifier "
                        "(+ / * / {n,}) instead"
                    )
            if self.loop_branches:
                if len(self.loop_groups) != 1:
                    raise ValueError(
                        "loop_branches requires exactly one loop group "
                        f"(got {len(self.loop_groups)})"
                    )
                gs, ge = self.loop_groups[0]
                bs = sorted(self.loop_branches)
                if len(bs) < 2:
                    raise ValueError(
                        "loop_branches needs at least two branches — a "
                        "single body is plain loop_groups"
                    )
                prev = gs - 1
                for b_s, b_e in bs:
                    if b_s != prev + 1 or b_e < b_s:
                        raise ValueError(
                            "loop_branches must partition the loop group "
                            f"contiguously: {self.loop_branches} over "
                            f"group ({gs}, {ge})"
                        )
                    prev = b_e
                if prev != ge:
                    raise ValueError(
                        f"loop_branches {self.loop_branches} do not cover "
                        f"loop group ({gs}, {ge})"
                    )
                for v in self.variables[gs : ge + 1]:
                    if v.quantifier != ONCE:
                        raise NotImplementedError(
                            f"quantified variable {v.name} inside a "
                            "multi-branch unbounded group — flatten the "
                            "inner quantifier first"
                        )
                # ALL ROWS PER MATCH with a multi-branch group is
                # supported since round 10: per-row CLASSIFIER is
                # reconstructed from the branch predicates (iterations
                # have no fixed stride, but each consumed row satisfies
                # exactly ONE branch variable's predicate under the
                # disjointness the emitter checks at runtime —
                # operators/cep_batch.py::_classified_rows)
            # aggregate measures over SINGLE-BODY loop-group vars
            # compose since round 8: the evaluator slices the var's
            # stride-L actual rows (operators/cep_batch.py::
            # _actual_spans), not the merged contiguous span. A
            # MULTI-BRANCH group's iterations interleave with no fixed
            # stride — since round 10 those reconstruct per row from
            # the variable predicates instead (the same classify path
            # nested groups use; runtime-disjointness-checked).
        if self.loop_branches and not self.loop_groups:
            raise ValueError("loop_branches without a loop group")
        if any(m.fn in AGG_FNS for m in self.measures):
            # aggregates reconstruct a variable's row set from its
            # contiguous (first_idx, last_idx) span — only sound when
            # every transition is strict and loops can't skip rows
            bad = [
                v.name
                for v in positives
                if (v.contiguity != STRICT and v is not positives[0])
                or (v.loop_contiguity or v.contiguity) != STRICT
                or v.combinations
            ]
            if bad:
                raise ValueError(
                    "aggregate measures (SUM/AVG/MIN/MAX/COUNT(col)) "
                    f"require strict contiguity; relaxed vars: {bad}"
                )
        return self


@dataclass(frozen=True)
class AlternationSpec:
    """Top-level SQL:2016 PATTERN alternation ``(P1 | P2 | ...)``.

    Each alternative is a complete :class:`PatternSpec` (its own
    variables/quantifiers/contiguity); partition keys, ordering,
    ``within`` handling, and the after-match strategy are shared —
    the alternation behaves as ONE pattern whose skip strategy acts
    on the union of the alternatives' partial matches
    (operators/nfa.py::scan_key_group_alternation). Preference among
    simultaneous completions: earliest start row, then leftmost
    alternative (SQL:2016 derivation order), then the alternative's
    own quantifier preference.

    Scope (validated): ONE ROW PER MATCH (ALL ROWS for fixed-width
    strict alternatives), strategies SKIP PAST LAST ROW / SKIP TO NEXT
    ROW / NO_SKIP, no timeout channel, no trailing absence variables,
    no SUBSET/PERMUTE inside an alternative. Batch runs the lockstep
    coordinator (or the regex tier, operators/regex_scan.py); streaming runs
    the same coordination core per key in the bucketed state store
    (streaming/cep_stream.py::match_pattern_stream, the one stream
    operator for both spec kinds; the same measures as a single
    pattern).
    MEASURES live here (not on the alternatives): a measure over a
    variable the matched alternative lacks yields its ``default``
    (SQL:2016: unmatched variable → NULL); ``CLASSIFIER()``
    disambiguates."""

    alternatives: tuple[PatternSpec, ...]
    measures: tuple[Measure, ...] = ()
    #: SUBSET union variables shared by the alternatives (measures may
    #: reference them; components missing from the matched alternative
    #: are skipped). Used by the parser's group-quantifier unrolling.
    subsets: tuple[tuple[str, tuple[str, ...]], ...] = ()
    #: Completion preference among alternatives (round 5):
    #: - "eager"    — earliest completion row wins a start, ties to the
    #:   leftmost alternative (the engine's documented default for
    #:   user-written top-level alternation; matches FlinkCEP's
    #:   emit-on-complete runtime behavior).
    #: - "leftmost" — SQL:2016 derivation order: the FIRST alternative
    #:   in list order that EVER completes from a start wins, even if a
    #:   later-listed alternative completes earlier — completions are
    #:   held until every earlier-listed alternative's run for that
    #:   start is dead. The SQL front-end selects this for bounded
    #:   group-quantifier expansions (branches listed in greedy
    #:   priority: more repetitions first), closing the round-4
    #:   min-count-preferred deviation for (B C){n,m} / ?.
    derivation: str = "eager"

    # shared config (identical across alternatives; validated)
    @property
    def key_cols(self):
        return self.alternatives[0].key_cols

    @property
    def order_col(self):
        return self.alternatives[0].order_col

    @property
    def tiebreak_col(self):
        return self.alternatives[0].tiebreak_col

    @property
    def after_match(self):
        return self.alternatives[0].after_match

    @property
    def emit_timeouts(self):
        return False

    # derived views that let the batch operator reuse PatternSpec's
    # shared staging helpers (_prepare / _with_nav_cols / output_schema)
    @property
    def pred_exprs(self) -> tuple[str, ...]:
        """Concatenation of the alternatives' predicate lists — the
        canonical order the lockstep coordinator slices per-alt."""
        return tuple(e for a in self.alternatives for e in a.pred_exprs)

    @property
    def nav_cols(self):
        """Union of the alternatives' PREV/NEXT columns (the SQL
        parser shares one tuple; merge defensively by alias)."""
        merged = {}
        for a in self.alternatives:
            for nav in a.nav_cols:
                merged[nav[0]] = nav
        return tuple(merged.values())


    def with_updates(self, **kw) -> "AlternationSpec":
        """Apply shared-config updates (order/tiebreak cols) to every
        alternative."""
        if kw.pop("emit_timeouts", False):
            raise NotImplementedError(
                "alternation has no timeout channel (no trailing "
                "absence variables are allowed in alternatives)"
            )
        return AlternationSpec(
            alternatives=tuple(replace(a, **kw) for a in self.alternatives),
            measures=self.measures,
            subsets=self.subsets,
            derivation=self.derivation,
        )

    def validate(self) -> "AlternationSpec":
        if self.derivation not in ("eager", "leftmost"):
            raise ValueError(
                f"derivation must be 'eager' or 'leftmost', "
                f"got {self.derivation!r}"
            )
        if len(self.alternatives) < 2:
            raise ValueError("alternation needs at least two alternatives")
        a0 = self.alternatives[0]
        for alt in self.alternatives:
            alt.validate()
            if (
                alt.key_cols != a0.key_cols
                or alt.order_col != a0.order_col
                or alt.tiebreak_col != a0.tiebreak_col
                or alt.after_match != a0.after_match
            ):
                raise ValueError(
                    "alternatives must share keys/order/after-match"
                )
            if alt.emit_timeouts:
                raise NotImplementedError(
                    "alternation has no timeout channel"
                )
            if alt.rows_per_match == "all":
                # ALL ROWS PER MATCH (round 5): supported for
                # FIXED-WIDTH STRICT alternatives — each variable's
                # rows are then a contiguous index span, so the output
                # row set reconstructs from (first, last) spans exactly
                # as in the single-pattern all-rows tier.
                bad = [
                    v.name
                    for v in alt.variables
                    if v.negated
                    or v.until is not None
                    or not (
                        v.quantifier == ONCE
                        or (
                            v.quantifier == TIMES
                            and v.times is not None
                            and v.times[1] == v.times[0]
                        )
                    )
                ]
                if bad or alt.loop_groups or any(
                    v.contiguity != STRICT for v in alt.variables[1:]
                ):
                    raise NotImplementedError(
                        "ALL ROWS PER MATCH with alternation needs "
                        "fixed-width strict alternatives (ONCE / "
                        f"times(n,n), no negatives/until/loops): {bad}"
                    )
            elif alt.rows_per_match != "one":
                raise NotImplementedError(
                    f"unknown rows_per_match {alt.rows_per_match!r}"
                )
            if alt.variables[-1].negated:
                raise NotImplementedError(
                    "alternatives cannot end in an absence variable "
                    "(pending completions are per-NFA)"
                )
            if alt.permute or alt.subsets:
                raise NotImplementedError(
                    "PERMUTE/SUBSET cannot be combined with alternation"
                )
            if alt.measures:
                raise ValueError(
                    "measures belong on the AlternationSpec, not on "
                    "individual alternatives"
                )
        if a0.after_match not in (
            SKIP_PAST_LAST_EVENT,
            SKIP_TO_NEXT,
            NO_SKIP,
        ):
            raise NotImplementedError(
                "alternation supports SKIP PAST LAST ROW / SKIP TO NEXT "
                "ROW / NO_SKIP (a SKIP TO FIRST/LAST variable need not "
                "exist in every alternative)"
            )
        names_union = {
            v.name
            for alt in self.alternatives
            for v in alt.variables
            if not v.negated
        }
        subset_names = set()
        for sname, components in self.subsets:
            if sname in names_union or sname in subset_names:
                raise ValueError(f"SUBSET name {sname!r} collides")
            subset_names.add(sname)
            if not components:
                raise ValueError(f"SUBSET {sname!r} is empty")
            for c in components:
                if c not in names_union:
                    raise ValueError(
                        f"SUBSET {sname!r} references unknown var {c!r}"
                    )
        has_agg = any(m.fn in AGG_FNS for m in self.measures)
        group_vars = {
            v.name
            for alt in self.alternatives
            for s, e in alt.loop_groups
            for v in alt.variables[s : e + 1]
        }
        if group_vars:
            subset_expand = dict(self.subsets)
            for m in self.measures:
                if m.fn in AGG_FNS:
                    comps = set(subset_expand.get(m.var, (m.var,)))
                    if comps & group_vars:
                        raise NotImplementedError(
                            f"aggregate measure {m.name} over loop-group "
                            f"variable(s) {sorted(comps & group_vars)} — "
                            "iteration rows interleave the contiguous span"
                        )
        for m in self.measures:
            if m.fn in NILADIC_FNS:
                continue
            if m.var not in names_union and m.var not in subset_names:
                raise ValueError(
                    f"measure {m.name} references unknown var {m.var}"
                )
            if m.fn not in ("first", "last", "count") + AGG_FNS:
                raise ValueError(f"unsupported measure fn {m.fn}")
        if has_agg:
            # same soundness rule as PatternSpec: spans reconstruct
            # row sets only under strict contiguity
            for alt in self.alternatives:
                positives = [v for v in alt.variables if not v.negated]
                bad = [
                    v.name
                    for v in positives
                    if (v.contiguity != STRICT and v is not positives[0])
                    or (v.loop_contiguity or v.contiguity) != STRICT
                    or v.combinations
                ]
                if bad:
                    raise ValueError(
                        "aggregate measures require strict contiguity "
                        f"in every alternative; relaxed vars: {bad}"
                    )
        return self


# ---------------------------------------------------------------------------
# Fluent DSL (Milestone 2) — mirrors FlinkCEPExample.scala:58-74
# ---------------------------------------------------------------------------


class Pattern:
    """Fluent builder.

    >>> p = (Pattern.begin("A", skip=SKIP_PAST_LAST_EVENT)
    ...      .where("balanceBefore >= 10 AND balanceAfter < 10")
    ...      .next("B").one_or_more().optional()
    ...      .where("balanceBefore >= balanceAfter")
    ...      .next("C").where("balanceBefore < balanceAfter")
    ...      .within("1 hour"))
    """

    def __init__(self) -> None:
        self._vars: list[PatternVar] = []
        self._skip = SKIP_PAST_LAST_EVENT
        self._skip_var: str | None = None
        self._within: timedelta | None = None
        self._loop_groups: list[tuple[int, int]] = []
        self._group_start: int | None = None

    # -- construction -------------------------------------------------
    @classmethod
    def begin(
        cls,
        name: str,
        skip: str = SKIP_PAST_LAST_EVENT,
        skip_var: str | None = None,
    ) -> "Pattern":
        """``skip_var`` names the variable SKIP_TO_FIRST/SKIP_TO_LAST
        resumes at (Flink ``skipToFirst("B")``/``skipToLast("B")``)."""
        p = cls()
        p._skip = skip
        p._skip_var = skip_var
        p._vars.append(PatternVar(name, "true"))
        return p

    def next(self, name: str) -> "Pattern":
        """Strict contiguity (Flink ``.next``, FlinkCEPExample.scala:64,69)."""
        self._vars.append(PatternVar(name, "true", contiguity=STRICT))
        return self

    def followed_by(self, name: str) -> "Pattern":
        """Relaxed contiguity (Flink ``.followedBy``) — engine extension;
        the reference only uses strict."""
        self._vars.append(PatternVar(name, "true", contiguity=RELAXED))
        return self

    def where(self, predicate: str) -> "Pattern":
        v = self._vars[-1]
        pred = predicate if v.predicate == "true" else f"({v.predicate}) AND ({predicate})"
        self._vars[-1] = replace(v, predicate=pred)
        return self

    def not_next(self, name: str) -> "Pattern":
        """Absence constraint on the immediately-next row (Flink
        ``.notNext``): the row directly after the previous variable's
        match must NOT satisfy this variable's predicate."""
        self._vars.append(
            PatternVar(name, "true", contiguity=STRICT, negated=True)
        )
        return self

    def not_followed_by(self, name: str) -> "Pattern":
        """Absence constraint on the whole gap (Flink
        ``.notFollowedBy``): no row between the previous variable's
        match and the next variable's match may satisfy this predicate.
        As the FINAL pattern element it needs ``within()`` and emits the
        match when the deadline passes with no such row (timed absence)."""
        self._vars.append(
            PatternVar(name, "true", contiguity=RELAXED, negated=True)
        )
        return self

    def one_or_more(self) -> "Pattern":
        self._vars[-1] = replace(self._vars[-1], quantifier=ONE_OR_MORE)
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        """Exactly ``n`` rows (Flink ``.times(n)``) or ``n``–``m`` rows
        (``.times(n, m)``); ``m=None`` with ``n>0`` means exactly n."""
        self._vars[-1] = replace(
            self._vars[-1], quantifier=TIMES, times=(n, n if m is None else m)
        )
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """At least ``n`` rows (Flink ``.timesOrMore(n)`` / ``X{n,}``)."""
        self._vars[-1] = replace(
            self._vars[-1], quantifier=TIMES, times=(n, None)
        )
        return self

    def optional(self) -> "Pattern":
        v = self._vars[-1]
        if v.quantifier == TIMES:
            # Flink's times(n).optional() means "0 or exactly n..m" —
            # not expressible as a (min, max) band; refuse rather than
            # silently matching 1..m too.
            raise NotImplementedError(
                "optional() after times(): '0 or exactly n' is unsupported"
            )
        q = ZERO_OR_MORE if v.quantifier == ONE_OR_MORE else OPTIONAL
        self._vars[-1] = replace(v, quantifier=q)
        return self

    def consecutive(self) -> "Pattern":
        """Strict loop contiguity (Flink ``.consecutive()``): iterations
        of the looping variable must be adjacent rows."""
        self._vars[-1] = replace(self._vars[-1], loop_contiguity=STRICT)
        return self

    def allow_combinations(self) -> "Pattern":
        """Non-deterministic relaxed loop contiguity (Flink
        ``.allowCombinations()``): a branch may also SKIP a row matching
        the looping variable and take a later one, yielding all row
        combinations."""
        self._vars[-1] = replace(
            self._vars[-1], loop_contiguity=RELAXED, combinations=True
        )
        return self

    def reluctant(self) -> "Pattern":
        """SQL:2016 reluctant quantifier (``B*?`` / ``B+?``): among
        branches of one run completing on the same row, prefer the one
        where this variable absorbed the FEWEST rows (greedy — the
        default — prefers the most)."""
        self._vars[-1] = replace(self._vars[-1], greedy=False)
        return self

    def greedy(self) -> "Pattern":
        """Explicit greedy marker (the default preference)."""
        self._vars[-1] = replace(self._vars[-1], greedy=True)
        return self

    def until(self, condition: str) -> "Pattern":
        """Stop condition for the current looping variable (Flink
        ``.until(cond)``): once a row satisfies ``condition`` while the
        loop is open, no further rows enter the loop — the stop row
        itself included; the remainder of the pattern is unaffected."""
        self._vars[-1] = replace(self._vars[-1], until=condition)
        return self

    def within(self, interval: str | timedelta) -> "Pattern":
        self._within = parse_interval(interval)
        return self

    # -- unbounded groups (round 5) -----------------------------------
    def begin_group(self) -> "Pattern":
        """Open an unbounded ``(X Y)+`` group: the variables added
        until :meth:`end_group_one_or_more` form the group body (a true
        sub-NFA loop — see PatternSpec.loop_groups). Groups cannot
        nest."""
        if self._group_start is not None:
            raise ValueError("unbounded groups cannot nest")
        self._group_start = len(self._vars)
        return self

    def end_group_one_or_more(self) -> "Pattern":
        """Close the open group as one-or-more iterations."""
        if self._group_start is None:
            raise ValueError("end_group_one_or_more() without begin_group()")
        if len(self._vars) - self._group_start < 2:
            raise ValueError(
                "an unbounded group needs >= 2 variables — use the "
                "variable quantifier (one_or_more) for a single one"
            )
        self._loop_groups.append((self._group_start, len(self._vars) - 1))
        self._group_start = None
        return self

    # -- finalization -------------------------------------------------
    def build(
        self,
        key_cols: tuple[str, ...] = ("id",),
        order_col: str = "event_time",
        tiebreak_col: str = "seq",
        measures: tuple[Measure, ...] = (),
        emit_timeouts: bool = False,
    ) -> PatternSpec:
        if self._group_start is not None:
            raise ValueError("unclosed begin_group() at build()")
        return PatternSpec(
            variables=tuple(self._vars),
            key_cols=tuple(key_cols),
            order_col=order_col,
            tiebreak_col=tiebreak_col,
            within=self._within,
            after_match=self._skip,
            skip_var=self._skip_var,
            measures=tuple(measures),
            emit_timeouts=emit_timeouts,
            loop_groups=tuple(self._loop_groups),
        ).validate()


def billing_pattern(emit_timeouts: bool = False) -> PatternSpec:
    """The reference pattern, verbatim semantics
    (FlinkCEPExample.scala:58-74 / FlinkSqlMatchRecognizeExample.scala:50-68):

    ``PATTERN (A B* C) WITHIN INTERVAL '1' HOUR AFTER MATCH SKIP PAST
    LAST ROW`` with
    A: balanceBefore >= 10 AND balanceAfter < 10 (alarm),
    B: balanceBefore >= balanceAfter (non-increasing),
    C: balanceBefore < balanceAfter (top-up);
    MEASURES A.datetime AS alarmTriggerDatetime, C.datetime AS
    topupDatetime; with ``emit_timeouts`` the absence variant
    (FlinkCEPAbsenceOfEventExample.scala:93-103): timed-out partials emit
    (id, A.datetime, '') on the timeout side output.
    """
    return (
        Pattern.begin("A", skip=SKIP_PAST_LAST_EVENT)
        .where("balanceBefore >= 10 AND balanceAfter < 10")
        .next("B")
        .one_or_more()
        .optional()
        .where("balanceBefore >= balanceAfter")
        .next("C")
        .where("balanceBefore < balanceAfter")
        .within("1 hour")
        .build(
            key_cols=("id",),
            order_col="event_time",
            tiebreak_col="seq",
            measures=(
                Measure("alarmTriggerDatetime", "A", "datetime", "first"),
                Measure("topupDatetime", "C", "datetime", "first", default=""),
            ),
            emit_timeouts=emit_timeouts,
        )
    )


def alternation(
    *alternatives: "Pattern | PatternSpec",
    measures: tuple[Measure, ...] = (),
    derivation: str = "eager",
) -> AlternationSpec:
    """DSL-side top-level alternation, the builder twin of the SQL
    front-end's ``PATTERN (A B | C D)``:

    >>> spec = alternation(
    ...     Pattern.begin("A", skip=SKIP_TO_NEXT).where("fa")
    ...            .next("C").where("fc"),
    ...     Pattern.begin("A", skip=SKIP_TO_NEXT).where("fa")
    ...            .next("D").where("fd").times(2),
    ...     measures=(Measure("s", "A", "seq", "first"),),
    ... )

    ``Pattern`` builders are built with their default keys/ordering;
    pass pre-built :class:`PatternSpec`s to customize those (they must
    agree across alternatives — validated)."""
    specs = tuple(
        a.build() if isinstance(a, Pattern) else a for a in alternatives
    )
    return AlternationSpec(
        alternatives=specs, measures=tuple(measures), derivation=derivation
    ).validate()


def permute_to_alternation(spec: PatternSpec) -> AlternationSpec:
    """Compile a PERMUTE spec into the equivalent top-level
    alternation: one alternative per ordering of the listed variables,
    generated in lexicographic order of the listed sequence — which is
    exactly the alternation coordinator's leftmost-alternative
    preference, so same-row completions bind lexicographically. Used
    by the batch regex tier (operators/regex_scan.py), the streaming
    tier (the lockstep coordinator already runs per key in the bucketed
    state store, so PERMUTE on a stream needs no new machinery) and by
    the batch NFA reference (operators/planner.py)."""
    from itertools import permutations

    if not spec.permute:
        raise ValueError("spec does not carry PERMUTE")
    spec.validate()
    alternatives = tuple(
        replace(spec, variables=tuple(perm), permute=False, measures=())
        for perm in permutations(spec.variables)
    )
    return AlternationSpec(
        alternatives=alternatives,
        measures=spec.measures,
        subsets=spec.subsets,
    ).validate()
