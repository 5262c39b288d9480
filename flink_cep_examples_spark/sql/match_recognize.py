"""MATCH_RECOGNIZE front-end (SQL:2016 row-pattern recognition subset).

Spark SQL has no MATCH_RECOGNIZE, so this is our own front-end: a parser
for the subset the reference exercises
(FlinkSqlMatchRecognizeExample.scala:50-68) —

    PARTITION BY <cols>
    ORDER BY <col> [, <tiebreak_col>]
    MEASURES [FINAL|RUNNING] <var>.<col> | FIRST/LAST(<var>.<col>)
             | SUM/AVG/MIN/MAX/COUNT(<var>.<col>) | COUNT(<var>.*)
             | CLASSIFIER() | MATCH_NUMBER()      AS <alias> [, ...]
      (<var> may be a SUBSET name; aggregates need strict contiguity;
       RUNNING clips a measure to the rows up to the current output
       row under ALL ROWS PER MATCH — this engine defaults to FINAL
       everywhere, a documented deviation from the standard's ALL
       ROWS default)
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
                | SKIP TO FIRST <var> | SKIP TO LAST <var>
    PATTERN ( V1 V2* V3? ... ) [ WITHIN INTERVAL '<n>' <unit> ]
      (quantifiers: * + ? {n} {n,m} {n,}; a trailing ? after * + {n,m}
       marks the SQL:2016 RELUCTANT preference, e.g. B*? / B{1,3}?;
       top-level alternation ``( A B | C D )`` — leftmost-preferred;
       GROUP quantifiers: bounded ``(B C){n}``/``{n,m}``/``?``
       unroll at parse time — exact bounds to suffixed copies, ranges
       to alternation branches run under SQL:2016 LEFTMOST derivation
       (greedy: most repetitions preferred; ``{n,m}?`` reluctant:
       fewest); alternation inside a group ``(A B | C){n,m}``
       distributes per-copy choices; UNBOUNDED ``(B C)+``/``*``/
       ``{n,}`` compile to true sub-NFA loop states
       (PatternSpec.loop_groups, eager emission); measures via
       auto-SUBSET unions)
    SUBSET <name> = (<var>, ...) [, ...]
    DEFINE <var> AS <predicate> [, ...]
      (predicates may navigate PHYSICAL rows with PREV(<var>.<col>
       [, n]) / NEXT(<var>.<col> [, n]) — materialized as vectorized
       lag/lead columns before the NFA — and reference EARLIER
       pattern variables with FIRST/LAST(<var>.<col>) when the offset
       is pattern-fixed (Flink IterativeCondition subset; LAST works
       even off a loop variable, e.g. ``A B+ C`` with
       ``C AS x > LAST(B.x)``); genuinely run-dependent references
       are rejected with a named error)

— compiled to the same :class:`PatternSpec` the Pattern DSL produces,
so SQL and DSL converge on one operator exactly as the reference's two
paths converge on Flink's CepOperator (SURVEY §3.2). The surrounding
SELECT is delegated to Spark SQL itself.

Parsing approach: clause-keyword splitting + regexes. Predicates pass
through as Spark SQL expression strings (``A.balanceBefore`` prefixes
are stripped — Flink scopes DEFINE predicates to the current row, which
is exactly our row-wise vectorized evaluation). A full Calcite-style
parser would be over-engineering for this subset; a
``sparkSessionExtensions`` parser injection is the documented later
path (SURVEY §3.2).
"""

from __future__ import annotations

import dataclasses
import itertools
import re

from pyspark.sql import DataFrame

from flink_cep_examples_spark.operators.planner import run_pattern
from flink_cep_examples_spark.plans.pattern import (
    ONCE,
    ONE_OR_MORE,
    OPTIONAL,
    SKIP_PAST_LAST_EVENT,
    SKIP_TO_FIRST,
    SKIP_TO_LAST,
    SKIP_TO_NEXT,
    TIMES,
    STRICT,
    ZERO_OR_MORE,
    AlternationSpec,
    Measure,
    PatternSpec,
    PatternVar,
    parse_interval,
)

_CLAUSES = (
    "PARTITION BY",
    "ORDER BY",
    "MEASURES",
    "ONE ROW PER MATCH",
    "ALL ROWS PER MATCH",
    "AFTER MATCH",
    "PATTERN",
    "SUBSET",
    "DEFINE",
)

_QUANT = {"": ONCE, "*": ZERO_OR_MORE, "+": ONE_OR_MORE, "?": OPTIONAL}


def _split_clauses(body: str) -> dict[str, str]:
    """Split the MATCH_RECOGNIZE body into clause → text."""
    positions = []
    upper = body.upper()
    for kw in _CLAUSES:
        for m in re.finditer(r"(?<![A-Z_])" + kw.replace(" ", r"\s+") + r"(?![A-Z_])", upper):
            positions.append((m.start(), m.end(), kw))
    positions.sort()
    out: dict[str, str] = {}
    for i, (s, e, kw) in enumerate(positions):
        end = positions[i + 1][0] if i + 1 < len(positions) else len(body)
        out[kw] = body[e:end].strip().rstrip(",")
    return out


def _strip_var_prefixes(predicate: str, var_names: list[str]) -> str:
    """``A.balanceBefore`` → ``balanceBefore``: DEFINE predicates in the
    reference only reference the current row of their own variable
    (FlinkSqlMatchRecognizeExample.scala:63-66), which is row-scoped
    evaluation — our vectorized precompute."""
    out = predicate
    for v in var_names:
        out = re.sub(rf"(?<![\w.]){re.escape(v)}\.", "", out)
    return out


def _parse_pattern_clause(
    text: str,
) -> tuple[list[tuple[list[tuple], tuple]], str | None, bool, int]:
    """``( A {- B*? -} C{2,4} ) WITHIN INTERVAL '1' HOUR`` →
    ([(alternative_1, loop_groups_1, loop_branches_1), ...],
    within_text, permute, n_top_branches — how many '|'-branches the
    user WROTE at top level, before group-quantifier expansion; 1 +
    several expanded alternatives ⇒ a pure group expansion, which
    parse_match_recognize runs under SQL:2016 "leftmost" derivation)
    where each alternative is [(name, quant, times, greedy, excluded),
    ...], its loop_groups are (start, end) index ranges of unbounded
    ``(X Y)+`` sub-NFA loops (NESTED groups, round 8, contribute one
    range per level), and its loop_branches are the per-branch
    sub-ranges of a multi-branch group ``(A B | C D)+`` — one
    alternative for a plain pattern, several for a top-level SQL:2016
    alternation ``( A B | C D )``. A trailing ``?`` after ``*``/``+``/``{n,m}``
    is the SQL:2016 reluctant marker; ``{- ... -}`` is the SQL:2016
    exclusion (rows omitted from ALL ROWS PER MATCH output);
    ``( PERMUTE (A, B, C) )`` is the SQL:2016 any-order alternation
    (bare once-variables only)."""
    pm = re.match(
        r"\s*\(\s*PERMUTE\s*\(([^)]*)\)\s*\)\s*(.*)",
        text,
        re.DOTALL | re.IGNORECASE,
    )
    if pm:
        names, rest = pm.group(1), pm.group(2).strip()
        vars_ = []
        for tok in names.split(","):
            tok = tok.strip()
            if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", tok):
                raise ValueError(
                    f"PERMUTE takes bare variable names, got {tok!r}"
                )
            vars_.append((tok, ONCE, None, True, False))
        return [(vars_, (), ())], _parse_within(rest), True, 1
    m = re.match(r"\s*\((.*)\)\s*(WITHIN\b.*)?$", text, re.DOTALL | re.IGNORECASE)
    if not m:
        raise ValueError(f"cannot parse PATTERN clause: {text!r}")
    inner, rest = m.group(1), (m.group(2) or "").strip()
    # top-level SQL:2016 alternation first (inner parens belong to
    # grouped sub-patterns, expanded per branch below). Split
    # depth-aware: a '|' nested inside parentheses — e.g.
    # ((A B | C D){2}) — is alternation *inside a group*; it stays
    # with its group here and _expand_group_quantifiers distributes
    # the sub-branch choices across the repetition copies.
    branches, depth, cur = [], 0, []
    for ch in inner:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "|" and depth == 0:
            branches.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    branches.append("".join(cur))
    branches = [b.strip() for b in branches]
    if not all(branches):
        raise ValueError(f"empty alternation branch in: {inner!r}")
    expanded: list[str] = []
    for b in branches:
        expanded.extend(_expand_group_quantifiers(b))
    if len(expanded) > 16:
        raise NotImplementedError(
            f"group-quantifier expansion produced {len(expanded)} "
            "alternatives (cap 16) — reduce the {n,m} ranges"
        )
    return (
        [_parse_var_seq(x) for x in expanded],
        _parse_within(rest),
        False,
        len(branches),
    )


#: loop-group marker tokens emitted by _expand_group_quantifiers for
#: unbounded groups: ``(B C)+`` → ``{g+ B C +g}``. Space-delimited like
#: the exclusion markers, never valid variable names, consumed by
#: _parse_var_seq into PatternSpec.loop_groups index ranges.
_LOOP_OPEN, _LOOP_CLOSE = "{g+", "+g}"
#: reluctant loop-group open marker (``(B C)+?`` — min-iterations
#: preference): body vars parse with ``greedy=False`` and the
#: front-end keeps derivation "eager" (earliest completion = fewest
#: iterations, exactly the reluctant preferment)
_LOOP_OPEN_R = "{g+?"
#: branch separator inside a multi-branch unbounded group marker
#: (``(A B | C D)+`` → ``{g+ A B {g|} C D +g}``, round 8): consumed by
#: _parse_var_seq into PatternSpec.loop_branches sub-ranges
_LOOP_ALT = "{g|}"


_GROUP_RE = re.compile(
    # reluctant marker as its own trailing group so `*?` / `+?` /
    # `{n,}?` all parse (round 7 — `(X Y)*?` used to leave a dangling
    # `?` token)
    r"\(([^()]*)\)\s*(\{\s*(\d+)\s*(?:,\s*(\d*)\s*)?\}|\?|\*|\+)?(\?)?"
)


def _expand_group_quantifiers(text: str) -> list[str]:
    """SQL:2016 grouped sub-patterns, expanded at parse time.

    BOUNDED: ``(B C){2}`` unrolls to ``B__1 C__1 B__2 C__2`` (suffixed
    copies; measures over the base name resolve via an auto-generated
    SUBSET union), and ``(B C){1,2}`` / ``(B C)?`` expand to one
    alternative per repetition count — riding the alternation
    machinery under SQL:2016 LEFTMOST derivation since round 5
    (branches listed greedy-major, held until earlier-listed branches
    die — the standard's longest-greedy preferment).

    UNBOUNDED (round 5): ``(B C)+`` compiles to loop-group marker
    tokens (``{g+ B C +g}``) that _parse_var_seq turns into a TRUE
    sub-NFA loop (PatternSpec.loop_groups → operators/nfa.py loop-back
    edges); ``(B C)*`` expands to two alternatives (``+`` | absent —
    loop branch FIRST since round 7: under leftmost alternation with
    coordinator-held longest, that ordering realizes the SQL:2016
    greedy most-iterations preferment; ``*?`` lists absent first);
    ``(B C){n,}`` unrolls n-1 suffixed copies followed by a suffixed
    ``+`` group. Reluctant unbounded groups (``+?``/``*?``/``{n,}?``)
    emit the reluctant loop marker — body vars parse greedy=False and
    derivation stays eager (fewest-iterations preferment).

    ALTERNATION INSIDE A GROUP (round 5): ``(A B | C D){2}`` — each
    repetition copy independently picks a sub-branch, so the group
    distributes to the cross product of choices (here 4 alternatives:
    ``A__1 B__1 A__2 B__2`` … ``C__1 D__1 C__2 D__2``), riding the
    top-level alternation machinery. An UNQUANTIFIED group —
    ``(A | B) C`` or plain ``(B C)`` — is treated as ``{1}``
    (SQL:2016 grouping). Unbounded quantifiers over an alternating
    group are rejected (the loop-group NFA holds one fixed body)."""
    m = _GROUP_RE.search(text)
    if not m:
        return [text]
    body, quant, lo, hi = m.group(1), m.group(2), m.group(3), m.group(4)
    reluctant = m.group(5) is not None  # `?`-suffix: min repetitions
    # pad exclusion braces so they tokenize standalone; bounded unrolls
    # carry them through per copy (round 5); unbounded groups carry
    # them into the loop body (round 7 — ALL ROWS emission honors them)
    sub_bodies = [
        part.replace("{-", " {- ").replace("-}", " -} ").split()
        for part in body.split("|")
    ]
    if not all(sub_bodies):
        raise ValueError(f"empty group or alternation branch in ({body})")
    toks = sub_bodies[0]

    def _name_suffix(tok: str) -> tuple[str, str]:
        nm = re.match(r"([A-Za-z_][A-Za-z_0-9]*)(.*)$", tok)
        if not nm:
            raise ValueError(f"unsupported token in group: {tok!r}")
        return nm.group(1), nm.group(2)

    def _unroll_seq(copy_toks: list[list[str]], start_copy: int = 1) -> str:
        """Suffixed copies of the group as a flat token string — one
        token list per copy (the lists differ when the group body
        alternates; exclusion markers pass through unchanged)."""
        out: list[str] = []
        for i, ctoks in enumerate(copy_toks):
            copy = start_copy + i
            for tok in ctoks:
                if tok in ("{-", "-}", _LOOP_OPEN, _LOOP_CLOSE):
                    # inner-group / exclusion markers ride through;
                    # each copy gets its OWN (disjoint) inner loop
                    out.append(tok)
                    continue
                if tok in (_LOOP_OPEN_R, _LOOP_ALT):
                    raise NotImplementedError(
                        "reluctant / multi-branch unbounded group "
                        "inside a repeated group copy"
                    )
                name, suffix = _name_suffix(tok)
                out.append(f"{name}__{copy}{suffix}")
        return " ".join(out)

    def _unroll(n: int, start_copy: int = 1) -> str:
        return _unroll_seq([toks] * n, start_copy)

    def _one_body(body_toks: list[str], copy: int | None) -> tuple[list[str], int]:
        """One group body as marker-preserving tokens; returns (tokens,
        n_names)."""
        inner: list[str] = []
        n_names = 0
        for tok in body_toks:
            if tok in ("{-", "-}"):
                # {- var -} inside an unbounded group (round 7): the
                # markers ride through to _parse_var_seq, which sets
                # ``excluded`` on the enclosed body vars — ALL ROWS
                # emission then skips their (stride-L) rows
                inner.append(tok)
                continue
            if tok in (_LOOP_OPEN, _LOOP_CLOSE):
                # an INNER unbounded group's markers (round 8 —
                # ((A B)+ C)+): the inner group expanded first; its
                # markers ride through, _parse_var_seq's group stack
                # records the nesting
                inner.append(tok)
                continue
            if tok == _LOOP_OPEN_R:
                raise NotImplementedError(
                    "reluctant unbounded group nested inside another "
                    "unbounded group — mixed derivations"
                )
            if tok == _LOOP_ALT:
                raise NotImplementedError(
                    "alternation branches inside a NESTED unbounded "
                    "group"
                )
            name, suffix = _name_suffix(tok)
            if suffix:
                raise NotImplementedError(
                    f"quantified variable {tok!r} inside an unbounded "
                    "group — flatten the inner quantifier first"
                )
            n_names += 1
            inner.append(name if copy is None else f"{name}__{copy}")
        return inner, n_names

    def _loop_tokens(copy: int | None, reluctant: bool = False) -> str:
        """The group body (or bodies — alternation inside an unbounded
        group, round 8) wrapped in loop markers (one-or-more sub-NFA
        loop); ``copy`` suffixes the names (for {n,} whose earlier
        iterations are unrolled copies 1..n-1); ``reluctant`` picks
        the reluctant open marker (min-iterations preference →
        derivation stays eager)."""
        if len(sub_bodies) > 1:
            # (A B | C D)+ — branch bodies separated by the {g|} marker;
            # _parse_var_seq turns them into PatternSpec.loop_branches
            # (one iteration per branch choice, NFA tier)
            if reluctant:
                raise NotImplementedError(
                    "reluctant multi-branch unbounded group "
                    f"(({body}){quant}?) — drop the '?' or bound the "
                    "repetition count"
                )
            parts: list[str] = []
            for k, btoks in enumerate(sub_bodies):
                # {- var -} inside a branch body (round 10 — observable
                # now that ALL ROWS supports multi-branch groups): the
                # markers ride through to _parse_var_seq exactly like
                # the single-body form; the ALL ROWS emitter skips the
                # excluded vars' classified rows
                inner, n_names = _one_body(btoks, copy)
                if any(t in (_LOOP_OPEN, _LOOP_CLOSE) for t in inner):
                    raise NotImplementedError(
                        "nested unbounded group inside a multi-branch "
                        "unbounded group"
                    )
                if k:
                    parts.append(_LOOP_ALT)
                parts.extend(inner)
            return f"{_LOOP_OPEN} {' '.join(parts)} {_LOOP_CLOSE}"
        inner, n_names = _one_body(toks, copy)
        if len(inner) == 1:
            # (B)+ is just B+ — no loop group needed
            return inner[0] + ("+?" if reluctant else "+")
        if n_names == 1:
            # ({- B -})+ — a single fully-excluded var: equivalent to
            # an excluded B+ (every iteration row is the var's), and
            # single-var loop groups are rejected by validate()
            only = next(t for t in inner if t not in ("{-", "-}"))
            return f"{{- {only}{'+?' if reluctant else '+'} -}}"
        opener = _LOOP_OPEN_R if reluctant else _LOOP_OPEN
        return f"{opener} {' '.join(inner)} {_LOOP_CLOSE}"

    unbounded = quant in ("*", "+") or (hi == "" and lo is not None)
    if unbounded and len(sub_bodies) > 1 and quant not in ("*", "+"):
        raise NotImplementedError(
            "alternation inside an open-ended ranged group — "
            f"({body}){{{lo},}} — use + ({{1,}}) / * ({{0,}}) or bound "
            "the repetition count ({n,m}) to distribute the branches"
        )
    if unbounded:
        n_min = (
            1 if quant == "+" else 0 if quant == "*" else int(lo)
        )
        variants: list[str] = []
        if n_min == 0:
            # (B C)* = (B C)+ | absent — branch order IS the SQL:2016
            # derivation preference (round 7): GREEDY lists the loop
            # branch first (more iterations preferred, leftmost
            # alternation + coordinator-held longest realize it);
            # RELUCTANT (`*?`) lists absent first (fewest preferred)
            if reluctant:
                variants.append("")
                variants.append(_loop_tokens(None, reluctant=True))
            else:
                variants.append(_loop_tokens(None))
                variants.append("")
        elif n_min == 1:
            variants.append(_loop_tokens(None, reluctant=reluctant))
        else:
            # (B C){n,} = n-1 unrolled copies + a one-or-more group
            # (suffixed so names stay unique; SUBSET unions make
            # measures over the base names see every copy)
            variants.append(
                _unroll(n_min - 1)
                + " "
                + _loop_tokens(n_min, reluctant=reluctant)
            )
        outs: list[str] = []
        for var in variants:
            expanded = text[: m.start()] + " " + var + " " + text[m.end():]
            outs.extend(_expand_group_quantifiers(expanded))
        return outs

    if quant is None:
        # unquantified group: SQL:2016 grouping parens, i.e. {1}
        lo_i = hi_i = 1
    elif quant == "?":
        lo_i, hi_i = 0, 1
    else:
        lo_i = int(lo)
        hi_i = int(hi) if hi else lo_i
    if hi_i < lo_i or hi_i - lo_i > 8 or hi_i > 8:
        raise ValueError(f"bad group bounds {{{lo_i},{hi_i}}} (max 8)")
    n_choice = len(sub_bodies)
    total = sum(n_choice**k for k in range(lo_i, hi_i + 1))
    if total > 16:
        raise NotImplementedError(
            f"group expansion of ({body}){quant or ''} produces "
            f"{total} alternatives (cap 16) — reduce the repetition "
            "range or the branch count"
        )
    outs = []
    # Branch list order IS the match priority (parse_match_recognize
    # selects "leftmost" derivation for pure group expansions):
    # GREEDY (SQL:2016 default) — more repetitions first, then the
    # lexicographic cross product of per-copy sub-branch choices;
    # RELUCTANT ({n,m}?) — fewest repetitions first.
    ks = (
        range(lo_i, hi_i + 1) if reluctant else range(hi_i, lo_i - 1, -1)
    )
    for k in ks:
        # each repetition copy independently picks a sub-branch:
        # cross product of choices (a single-body group degenerates
        # to the plain unroll)
        for choice in itertools.product(range(n_choice), repeat=k):
            var = _unroll_seq([sub_bodies[c] for c in choice])
            expanded = text[: m.start()] + " " + var + " " + text[m.end():]
            outs.extend(_expand_group_quantifiers(expanded))
    return outs


def _parse_var_seq(
    inner: str,
) -> tuple[list[tuple[str, str, tuple | None, bool, bool]], tuple]:
    """Tokenize one variable sequence (a pattern or one alternation
    branch): ``A {- B*? -} C{2,4}`` → ([(name, quant, times, greedy,
    excluded), ...], loop_groups) where loop_groups are the (start,
    end) variable-index ranges of ``{g+ ... +g}`` sub-NFA loop markers
    (unbounded group quantifiers)."""
    def _norm_braces(bm: re.Match) -> str:
        lo, hi = bm.group(1), bm.group(2)
        # {n} → {n,n} (exact); {n,} stays open-ended (n or more)
        return "{%s,%s}" % (lo, hi if hi is not None else lo)

    vars_ = []
    # pad exclusion braces so they tokenize standalone whatever the
    # spacing ({-B*-} / {- B* -} both parse); the quantifier-brace
    # regex below only rewrites numeric {n}/{n,m}, never {- / -}
    inner = inner.replace("{-", " {- ").replace("-}", " -} ")
    normed = re.sub(r"\{\s*(\d+)\s*(?:,\s*(\d*)\s*)?\}", _norm_braces, inner)
    excluding = False
    groups: list[tuple[int, int]] = []
    branches: list[tuple[int, int]] = []
    branch_cuts: list[int] = []
    #: open unbounded groups, innermost last (round 8 — NESTED groups
    #: ((A B)+ C)+ parse to a stack of (start_idx, reluctant) frames;
    #: three levels supported since round 9, the NFA adds one
    #: loop-back edge per group end)
    group_stack: list[tuple[int, bool]] = []
    for tok in normed.split():
        if tok in (_LOOP_OPEN, _LOOP_OPEN_R):
            # the NFA's loop-back-edge construction is depth-generic
            # (one edge per group end, shared ends union targets);
            # depth 3 is Python-`re` differential-validated (round 9)
            # and depth 4 likewise (round 10 — distinct-end,
            # all-shared-end, and mid-shared-end families,
            # tests/test_nested_groups.py); deeper stays a named
            # reject until someone differential-validates it
            if len(group_stack) >= 4:
                raise NotImplementedError(
                    "more than four levels of nested unbounded groups"
                )
            if group_stack and tok == _LOOP_OPEN_R:
                raise NotImplementedError(
                    "reluctant unbounded group nested inside another "
                    "unbounded group — mixed derivations"
                )
            # {- (A B)+ -} (round 8 — was a loud reject): exclusion
            # around the group is exclusion of every body variable;
            # the open ``excluding`` flag marks them as they parse,
            # exactly like the inside form (({- A B -})+)
            if not group_stack:
                branch_cuts = []
            group_stack.append((len(vars_), tok == _LOOP_OPEN_R))
            continue
        if tok == _LOOP_ALT:
            if len(group_stack) != 1:
                raise ValueError("loop-branch marker outside a group")
            last = branch_cuts[-1] if branch_cuts else group_stack[0][0]
            if len(vars_) == last:
                raise ValueError("empty branch in unbounded group")
            branch_cuts.append(len(vars_))
            continue
        if tok == _LOOP_CLOSE:
            if not group_stack:
                raise ValueError("unbalanced loop-group marker in PATTERN")
            g_start, _rel = group_stack.pop()
            if len(vars_) == g_start:
                raise ValueError("empty unbounded group in PATTERN")
            groups.append((g_start, len(vars_) - 1))
            if branch_cuts and not group_stack:
                # (A B | C D)+ — record the branch sub-ranges
                bounds = [g_start, *branch_cuts, len(vars_)]
                if bounds[-2] == bounds[-1]:
                    raise ValueError("empty branch in unbounded group")
                branches.extend(
                    (bounds[k], bounds[k + 1] - 1)
                    for k in range(len(bounds) - 1)
                )
            continue
        if tok == "{-":
            if excluding:
                raise ValueError("nested {- ... -} exclusions")
            excluding = True
            continue
        if tok == "-}":
            if not excluding:
                raise ValueError("unbalanced -} in PATTERN")
            excluding = False
            continue
        qm = re.match(
            r"^([A-Za-z_][A-Za-z_0-9]*)"
            r"(?:([*+])(\?)?|(\?)|\{(\d+),(\d*)\}(\?)?)?$",
            tok,
        )
        if not qm:
            raise ValueError(f"unsupported pattern token: {tok!r}")
        name, punct, rel1, opt, lo, hi, rel2 = qm.groups()
        greedy = not (rel1 or rel2)
        if any(rel for _s, rel in group_stack):
            # body var of a reluctant loop group ((B C)+?): the
            # greedy=False flag is how reluctance survives to the
            # derivation selection (front-end keeps "eager")
            greedy = False
        if lo is not None:
            vars_.append(
                (name, TIMES, (int(lo), int(hi) if hi else None), greedy,
                 excluding)
            )
        else:
            vars_.append(
                (name, _QUANT[(punct or opt) or ""], None, greedy, excluding)
            )
    if excluding:
        raise ValueError("unclosed {- in PATTERN")
    if group_stack:
        raise ValueError("unclosed loop-group marker in PATTERN")
    return vars_, tuple(groups), tuple(branches)


def _parse_within(rest: str) -> str | None:
    if not rest:
        return None
    wm = re.match(
        r"WITHIN\s+INTERVAL\s+'(\d+)'\s+(\w+)\s*$", rest, re.IGNORECASE
    )
    if not wm:
        raise ValueError(f"unsupported trailing PATTERN text: {rest!r}")
    return f"{wm.group(1)} {wm.group(2)}"


_MEASURE_RE = re.compile(
    r"^\s*(?:(?P<running>RUNNING)\s+|FINAL\s+)?(?:"  # FINAL is the default
    r"(?P<count>COUNT\s*\(\s*(?P<cvar>\w+)\.\*\s*\))"
    r"|(?P<nilad>CLASSIFIER|MATCH_NUMBER)\s*\(\s*\)"
    r"|(?:(?P<agg>SUM|AVG|MIN|MAX|COUNT)\s*\(\s*(?P<avar>\w+)\.(?P<acol>\w+)\s*\))"
    r"|(?:(?P<fn>FIRST|LAST)\s*\(\s*(?P<fvar>\w+)\.(?P<fcol>\w+)\s*\))"
    r"|(?P<var>\w+)\.(?P<col>\w+)"
    r")\s+AS\s+(?P<alias>\w+)\s*$",
    re.IGNORECASE,
)


def _parse_measures(text: str) -> list[Measure]:
    measures = []
    for part in re.split(r",(?![^()]*\))", text):
        part = part.strip()
        if not part:
            continue
        m = _MEASURE_RE.match(part)
        if not m:
            raise ValueError(f"unsupported MEASURES item: {part!r}")
        running = bool(m.group("running"))
        if m.group("count"):
            measures.append(
                Measure(m.group("alias"), m.group("cvar"), "__count__",
                        "count", running=running)
            )
        elif m.group("nilad"):
            measures.append(
                Measure(m.group("alias"), "", "", m.group("nilad").lower(),
                        running=running)
            )
        elif m.group("agg"):
            fn = m.group("agg").lower()
            measures.append(
                Measure(
                    m.group("alias"),
                    m.group("avar"),
                    m.group("acol"),
                    "count_col" if fn == "count" else fn,
                    running=running,
                )
            )
        elif m.group("fn"):
            measures.append(
                Measure(
                    m.group("alias"),
                    m.group("fvar"),
                    m.group("fcol"),
                    m.group("fn").lower(),
                    running=running,
                )
            )
        else:
            # bare VAR.col — SQL:2016 semantics: last row of VAR for
            # running/final in ONE ROW PER MATCH; Flink returns the
            # FIRST row's value for a once-variable (the only usage in
            # the reference: A.datetime / C.datetime on once-vars where
            # first == last). We use 'first' to match the reference.
            measures.append(
                Measure(
                    m.group("alias"),
                    m.group("var"),
                    m.group("col"),
                    "first",
                    running=running,
                )
            )
    return measures


def parse_match_recognize(body: str) -> PatternSpec | AlternationSpec:
    """Parse the text between ``MATCH_RECOGNIZE (`` and the closing ``)``
    into a :class:`PatternSpec` (or an :class:`AlternationSpec` when
    the PATTERN clause carries a top-level alternation)."""
    clauses = _split_clauses(body)
    if "PATTERN" not in clauses or "DEFINE" not in clauses:
        raise ValueError("MATCH_RECOGNIZE needs PATTERN and DEFINE clauses")

    alt_quants, within_text, permute, n_top = _parse_pattern_clause(
        clauses["PATTERN"]
    )
    all_names = {n for alt, _lg, _lb in alt_quants for n, _, _, _, _ in alt}
    # group-quantifier copies carry a __k suffix; DEFINE/MEASURES use
    # the base name, resolved via an auto-generated SUBSET union
    group_bases: dict[str, list[str]] = {}
    for alt, _lg, _lb in alt_quants:
        for n, _, _, _, _ in alt:
            if "__" in n:
                base = n.rsplit("__", 1)[0]
                group_bases.setdefault(base, [])
                if n not in group_bases[base]:
                    group_bases[base].append(n)
    var_names = sorted(all_names | set(group_bases))

    defines: dict[str, str] = {}
    nav_cols: dict[tuple[str, int, str], str] = {}

    def _rewrite_iterative(pred: str, vname: str) -> str:
        """FIRST/LAST(W.col) inside DEFINE — Flink's IterativeCondition
        subset (round 5): when the distance from the current row to the
        referenced row is FIXED by the pattern shape, the reference
        compiles to the same lag column PREV() uses, so the predicate
        stays vectorized pre-shuffle.

        ``LAST(W.col)`` in V's DEFINE = W's last matched row = ``b+1``
        rows back, where ``b`` is the total width of the (fixed-width,
        strict) variables strictly between W and V — valid even for a
        LOOP variable W (the classic Flink shape ``A B+ C`` with
        ``C AS price > LAST(B.price)``). ``FIRST(W.col)`` additionally
        needs W itself fixed-width (offset ``b + width(W)``). The
        defining variable V must be single-row (inside a loop the
        offset changes per iteration), the pattern single-alternative
        (branches would need different offsets), and the span must not
        cross an unbounded loop group. Everything else raises a named
        NotImplementedError."""
        pat = r"(?<!\w)(FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*\)"

        def sub(m: re.Match) -> str:
            kind, wvar, col = m.group(1).lower(), m.group(2), m.group(3)
            ref = f"{m.group(1).upper()}({wvar}.{col})"
            if len(alt_quants) > 1:
                raise NotImplementedError(
                    f"{ref} in DEFINE needs a single-alternative "
                    "pattern (alternation / ranged-group branches put "
                    "the referenced row at a different offset per "
                    "branch)"
                )
            vars0, lg, _lb = alt_quants[0]
            names = [n for n, *_ in vars0]
            if vname not in names or wvar not in names:
                raise ValueError(f"unknown variable in {ref}")
            wi, vi = names.index(wvar), names.index(vname)
            if wi >= vi:
                raise NotImplementedError(
                    f"{ref}: DEFINE may reference EARLIER variables "
                    "only (self/forward references are run-dependent)"
                )
            if any(s_ <= vi and e_ >= wi for s_, e_ in lg):
                raise NotImplementedError(
                    f"{ref} across an unbounded loop group — the "
                    "offset is unbounded"
                )

            def width(idx: int) -> int | None:
                _n, q, t, _g, _x = vars0[idx]
                if q == ONCE:
                    return 1
                if q == TIMES and t is not None and t[1] == t[0]:
                    return t[0]
                return None

            if width(vi) != 1:
                raise NotImplementedError(
                    f"{ref}: the defining variable {vname} must be "
                    "single-row (inside a quantified variable the "
                    "offset changes per consumed row)"
                )
            between = [width(i) for i in range(wi + 1, vi)]
            if any(b is None for b in between):
                raise NotImplementedError(
                    f"{ref}: variables between {wvar} and {vname} "
                    "must be fixed-width (ONCE / times(n))"
                )
            b = sum(between)
            if kind == "last":
                # W may match ZERO rows (B* / B? / {0,m}) → LAST(W.col)
                # is NULL under SQL:2016 / Flink for that run, not the
                # row at a fixed lag (which would read the PRECEDING
                # variable's row and admit spurious matches). Mirror
                # the fixed-width rejection FIRST already applies.
                _wn_, wq_, wt_, _wg_, _wx_ = vars0[wi]
                w_min = {ONCE: 1, ONE_OR_MORE: 1}.get(
                    wq_, wt_[0] if wq_ == TIMES and wt_ else 0
                )
                if w_min < 1:
                    raise NotImplementedError(
                        f"{ref}: {wvar} may match zero rows, so the "
                        "LAST value is NULL for zero-row runs — not a "
                        "pattern-fixed offset (run-dependent)"
                    )
                off = b + 1
            else:
                wn = width(wi)
                if wn is None:
                    raise NotImplementedError(
                        f"{ref}: FIRST needs a fixed-width {wvar} "
                        "(LAST is fine for loop variables)"
                    )
                off = b + wn
            key = (col, off, "prev")
            return nav_cols.setdefault(key, f"__nav_prev{off}_{col}")

        return re.sub(pat, sub, pred, flags=re.IGNORECASE)

    def _rewrite_nav(pred: str) -> str:
        """SQL:2016 physical-row navigation: ``PREV(V.col [, n])`` /
        ``NEXT(V.col [, n])`` → a lag/lead column alias; the column is
        materialized vectorized before predicate evaluation (the
        variable qualifier is irrelevant — PREV navigates PHYSICAL
        rows, not the variable's rows, per the standard). Pattern
        navigation FIRST/LAST inside DEFINE compiles via
        _rewrite_iterative when the offset is pattern-fixed; anything
        still here is run-dependent and rejected."""
        if re.search(r"(?<!\w)(FIRST|LAST)\s*\(", pred, re.IGNORECASE):
            raise NotImplementedError(
                "FIRST()/LAST() navigation in DEFINE is supported only "
                "as FIRST/LAST(var.col) with a pattern-fixed offset "
                "(see _rewrite_iterative); this reference is "
                "run-dependent"
            )

        def sub(m: re.Match) -> str:
            kind = m.group(1).lower()
            col = m.group(3)
            off = int(m.group(4) or 1)
            key = (col, off, kind)
            alias = nav_cols.setdefault(key, f"__nav_{kind}{off}_{col}")
            return alias

        return re.sub(
            r"(?<!\w)(PREV|NEXT)\s*\(\s*(?:(\w+)\.)?(\w+)\s*(?:,\s*(\d+))?\s*\)",
            sub,
            pred,
            flags=re.IGNORECASE,
        )

    for part in re.split(r",(?=\s*\w+\s+AS\s)", clauses["DEFINE"], flags=re.IGNORECASE):
        dm = re.match(r"\s*(\w+)\s+AS\s+(.*)$", part.strip(), re.IGNORECASE | re.DOTALL)
        if not dm:
            raise ValueError(f"cannot parse DEFINE item: {part!r}")
        defines[dm.group(1)] = _strip_var_prefixes(
            _rewrite_nav(
                _rewrite_iterative(dm.group(2).strip(), dm.group(1))
            ),
            var_names
        )
    nav_tuple = tuple(
        (alias, col, off, kind)
        for (col, off, kind), alias in nav_cols.items()
    )

    def _lookup_define(name: str) -> str:
        if name in defines:
            return defines[name]
        if "__" in name:  # group copy: shares the base variable's DEFINE
            return defines.get(name.rsplit("__", 1)[0], "true")
        return "true"  # undefined var matches any row (SQL:2016)

    def _variables(var_quants) -> tuple[PatternVar, ...]:
        return tuple(
            PatternVar(
                name,
                _lookup_define(name),
                quantifier=quant,
                contiguity=STRICT,  # MATCH_RECOGNIZE is strictly contiguous
                times=times,
                greedy=greedy,
                excluded=excluded,
            )
            for name, quant, times, greedy, excluded in var_quants
        )

    variables = _variables(alt_quants[0][0])

    after = clauses.get("AFTER MATCH", "SKIP PAST LAST ROW").strip().upper()
    skip_var = None
    if re.fullmatch(r"SKIP\s+PAST\s+LAST\s+ROW", after):
        skip = SKIP_PAST_LAST_EVENT
    elif re.fullmatch(r"SKIP\s+TO\s+NEXT\s+ROW", after):
        skip = SKIP_TO_NEXT
    elif sm := re.fullmatch(r"SKIP\s+TO\s+(FIRST|LAST)\s+(\w+)", after):
        skip = SKIP_TO_FIRST if sm.group(1) == "FIRST" else SKIP_TO_LAST
        # AFTER MATCH text was upper-cased for matching; recover the
        # variable's original casing from the pattern clause.
        skip_var = next(
            (n for n in var_names if n.upper() == sm.group(2)), sm.group(2)
        )
    else:
        raise NotImplementedError(f"unsupported AFTER MATCH strategy: {after!r}")

    keys = tuple(
        c.strip() for c in clauses.get("PARTITION BY", "").split(",") if c.strip()
    )
    order_cols = [
        c.strip()
        for c in clauses.get("ORDER BY", "").split(",")
        if c.strip()
    ]
    if len(order_cols) > 2:
        raise NotImplementedError(
            "ORDER BY supports at most two sort keys (event-time column "
            f"+ one tiebreak), got {order_cols}"
        )
    order = order_cols[0] if order_cols else ""
    order_tiebreak = order_cols[1] if len(order_cols) == 2 else None

    subsets: list[tuple[str, tuple[str, ...]]] = []
    if "SUBSET" in clauses:
        # SUBSET U = (A, B), V = (B, C)
        for sm in re.finditer(
            r"(\w+)\s*=\s*\(([^)]*)\)", clauses["SUBSET"]
        ):
            components = tuple(
                c.strip() for c in sm.group(2).split(",") if c.strip()
            )
            subsets.append((sm.group(1), components))
        if not subsets:
            raise ValueError(
                f"cannot parse SUBSET clause: {clauses['SUBSET']!r}"
            )

    measures = tuple(_parse_measures(clauses.get("MEASURES", "")))
    rows_per_match = "all" if "ALL ROWS PER MATCH" in clauses else "one"
    within = parse_interval(within_text) if within_text else None

    auto_subsets = tuple(
        (b, tuple(ns)) for b, ns in group_bases.items()
    )
    if len(alt_quants) > 1:
        # user SUBSET clauses compose with the auto-generated group
        # unions: the coordinator resolves both through the same
        # span-union path (operators/cep_batch.py::_resolve_spans);
        # components may live in different alternatives — a measure
        # over a union the matched alternative lacks yields NULL.
        alternatives = tuple(
            PatternSpec(
                variables=_variables(aq),
                loop_groups=lg,
                loop_branches=lb,
                key_cols=keys,
                order_col=order,
                tiebreak_col=order_tiebreak or "seq",
                explicit_tiebreak=order_tiebreak is not None,
                within=within,
                after_match=skip,
                skip_var=skip_var,
                rows_per_match=rows_per_match,
                nav_cols=nav_tuple,
            )
            for aq, lg, lb in alt_quants
        )
        # SQL:2016 derivation order whenever a group quantifier
        # EXPANDED the branch list (len > n_top): the parser emits
        # alternatives written-branch-major (top-level '|' preference
        # is leftmost per the standard) and greedy-minor within each
        # written branch (more repetitions first, then leftmost
        # sub-branch), so "leftmost" emission — earliest-LISTED
        # branch wins a start even when a shorter one completes
        # earlier — realizes the standard's preferment for the WHOLE
        # pattern, including ((D U){1,2} | X) mixes (round 6; the
        # round-5 engine refused those loudly). PURE written
        # alternation (len == n_top, nothing expanded) and loop-group
        # variants keep the engine's documented eager emission —
        # their oracles pin completion-order semantics.
        # round 7: alternatives carrying GREEDY loop groups also run
        # leftmost — that is how ``(X Y)*`` (= loop branch | absent,
        # loop listed first) realizes the standard's most-iterations
        # preferment: the coordinator holds the loop branch's
        # completions until its run dies, replacing each with the
        # longer one (coordinate_alternation_row / nfa.greedy_loops).
        # RELUCTANT loop branches ((X Y)*?) keep eager — earliest
        # completion IS the fewest-iterations preferment.
        any_reluctant_loop = any(
            not alt.variables[i].greedy
            for alt in alternatives
            for s_i, e_i in alt.loop_groups
            for i in range(s_i, e_i + 1)
        )
        derivation = (
            "leftmost"
            if not permute
            and not any_reluctant_loop
            and len(alt_quants) > n_top
            else "eager"
        )
        return AlternationSpec(
            alternatives=alternatives,
            measures=measures,
            subsets=tuple(subsets) + auto_subsets,
            derivation=derivation,
        ).validate()

    return PatternSpec(
        variables=variables,
        loop_groups=alt_quants[0][1],
        loop_branches=alt_quants[0][2],
        key_cols=keys,
        order_col=order,
        tiebreak_col=order_tiebreak or "seq",
        explicit_tiebreak=order_tiebreak is not None,
        within=within,
        after_match=skip,
        skip_var=skip_var,
        measures=measures,
        rows_per_match=rows_per_match,
        permute=permute,
        subsets=tuple(subsets) + auto_subsets,
        nav_cols=nav_tuple,
        # SQL:2016 greedy group quantifier: an UNBOUNDED loop group
        # ((X Y)+/{n,}) emits the LONGEST (most-iterations)
        # completion per start — completions are held in the NFA until
        # the start can no longer improve (operators/nfa.py
        # NfaState.helds), closing the round-5 documented
        # eager-emission deviation. RELUCTANT groups ((X Y)+? — body
        # vars parse greedy=False, round 7) keep eager: earliest
        # completion is exactly the fewest-iterations preferment. The
        # Flink-tier Pattern DSL keeps eager (Flink rejects greedy
        # group patterns outright, so there is no Flink behavior to
        # match). Unsupported combos (timeouts, trailing absence,
        # SKIP TO var) raise loudly in PatternSpec.validate rather
        # than silently reverting to eager.
        derivation=(
            "longest"
            if alt_quants[0][1]
            and all(
                variables[i].greedy
                for s_i, e_i in alt_quants[0][1]
                for i in range(s_i, e_i + 1)
            )
            else "eager"
        ),
    ).validate()


_MR_RE = re.compile(
    r"MATCH_RECOGNIZE\s*\((?P<body>.*)\)\s*(?:AS\s+)?(?P<alias>\w+)?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def match_recognize(
    df: DataFrame,
    body: str,
    order_col: str | None = None,
    tiebreak_col: str = "seq",
    emit_timeouts: bool = False,
    use_fast_path: bool = True,
    watermark_delay: str = "6 minutes",
) -> DataFrame:
    """Apply a MATCH_RECOGNIZE body to a DataFrame.

    A streaming ``df`` dispatches to the Structured-Streaming pattern
    operator (the reference's SQL path is itself a streaming program,
    FlinkSqlMatchRecognizeExample.scala:48-70) with ``watermark_delay``
    bounding out-of-orderness. A batch ``df`` runs the first compiled
    tier of the tier table (operators/planner.py) whose checks pass on
    the spec and the data, else the NFA reference; ``use_fast_path=False``
    forces the reference. Both produce identical results
    (differential-tested).

    A tier's check may run a one-off data check on ``df`` — the loop
    chain kernel verifies on the rows that a branch group's predicates
    are disjoint. The verdict is memoized per session, analyzed plan,
    input file stamps (path, size, mtime) and predicates, so files
    appended under the same path re-run the check.
    """
    spec = parse_match_recognize(body)
    updates: dict = {"emit_timeouts": emit_timeouts}
    explicit = (
        spec.alternatives[0].explicit_tiebreak
        if isinstance(spec, AlternationSpec)
        else spec.explicit_tiebreak
    )
    if not explicit:
        # a second ORDER BY key in the SQL is the tiebreak and wins
        # over the caller parameter; otherwise the parameter applies
        updates["tiebreak_col"] = tiebreak_col
    if order_col is not None:
        updates["order_col"] = order_col
    if isinstance(spec, AlternationSpec):
        spec = spec.with_updates(**updates)
    else:
        spec = dataclasses.replace(spec, **updates)
    out = run_pattern(
        df, spec, use_fast_path=use_fast_path, watermark_delay=watermark_delay
    )
    if (
        not emit_timeouts
        and isinstance(spec, PatternSpec)
        and spec.rows_per_match != "all"
    ):
        out = out.drop("tag")
    return out


def sql_with_match_recognize(
    spark,
    query: str,
    tables: dict[str, DataFrame],
    tiebreak_col: str = "seq",
) -> DataFrame:
    """Run ``SELECT ... FROM <table> MATCH_RECOGNIZE (...) [AS] t``:
    the MATCH_RECOGNIZE is evaluated by our engine; everything around it
    is plain Spark SQL over the result (registered as the alias).

    Only the reference's shape — a single FROM <table> MATCH_RECOGNIZE —
    is supported; arbitrary nesting is out of scope for v1.
    """
    m = re.search(
        r"SELECT\s+(?P<proj>.*?)\s+FROM\s+(?P<tbl>\w+)\s+MATCH_RECOGNIZE\s*\("
        r"(?P<body>.*)\)\s*(?:AS\s+)?(?P<alias>\w+)?\s*$",
        query.strip(),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError("expected: SELECT ... FROM <table> MATCH_RECOGNIZE (...) [t]")
    df = tables[m.group("tbl")]
    result = match_recognize(df, m.group("body"), tiebreak_col=tiebreak_col)
    alias = m.group("alias") or "t"
    result.createOrReplaceTempView(alias)
    return spark.sql(f"SELECT {m.group('proj')} FROM {alias}")
