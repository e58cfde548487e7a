"""Declarative pattern-string front end for the CEP matchers — the
MATCH_RECOGNIZE ``PATTERN (...)`` / ``DEFINE`` surface compiled onto
:func:`rtfproc_spark.operators.cep.match_sequence` and its streaming twin
(reference anchor: the north rule's MATCH_RECOGNIZE-style CEP mandate;
the reference repo itself has no pattern language — ``src/rtfproc.c`` is
a byte matcher — so this layer is pure task-mandate surface).

Grammar (whitespace-separated tokens)::

    pattern   := element ((" " | " > ") element)*
    element   := (var | group) quant?
    group     := "(" var ("|" var)* ")"          -- alternation (B|C)
    quant     := "?" | loop | loop "?"           -- trailing "?" = reluctant
    loop      := "+" | "*" | "{m}" | "{m,}" | "{m,n}"
    var       := [A-Za-z_][A-Za-z0-9_]*

- bare var/group: one required step (``followedBy`` — relaxed contiguity,
  the matcher's default);
- ``>`` before an element: STRICT contiguity for that element
  (MATCH_RECOGNIZE's default adjacency / Flink ``next()``) — maps to
  ``strict_steps``;
- ``X?``: optional step (``optional_steps``);
- ``X+`` / ``X*`` / ``X{m,n}`` / ``X{m,}`` / ``X{m}``: Kleene loop —
  a :class:`LoopStep` (sequence-advancing; the matcher's position rules
  decide whether anchor/middle/final loops are legal). Loops default to
  MATCH_RECOGNIZE's GREEDY munch (``LoopStep(greedy=True)``); a trailing
  ``?`` (``X+?``, ``X{1,3}?``) selects the reluctant quantifier. The
  distinction only bites when the loop body and its closer overlap —
  final-position loops have no closer, so they are always emitted
  reluctant (the flag would be inert and the matcher rejects it there).
  ``X??`` (reluctant optional) is rejected: the matcher's optional step
  is inherently greedy no-lookahead;
- quantified groups (``(B|C)+``) become alternation loop bodies;
- ``{- X -}`` (whitespace-separated tokens) marks the wrapped elements
  as OUTPUT-EXCLUDED — matching is unchanged, but ALL ROWS PER MATCH
  omits their bound rows (the standard's exclusion semantics; a no-op
  in one-row mode where no per-event rows exist).

``define`` maps each variable to its predicate: a ``pyspark.sql.Column``
(batch — e.g. ``F.col("event_type") == "click"``) or a literal string
(stream — the ``type_col`` value). Mixing the two in one dict is
rejected. Loop steps are named after the lowercased variable (the
group's variables joined by ``_``), so measures come out as
``n_<name>`` etc.; ``bind`` sets the loop binding (scalar for all loops,
or a per-name dict).
"""

from __future__ import annotations

import re
from dataclasses import replace

from pyspark.sql import Column, DataFrame

from .cep import (
    LoopStep, all_rows_per_match, match_permutation, match_sequence,
    match_sequence_stream,
)

_TOKEN = re.compile(
    r"^(?:(?P<var>[A-Za-z_]\w*)|\((?P<alts>[A-Za-z_]\w*(?:\|[A-Za-z_]\w*)*)\))"
    r"(?P<q>\?|\+|\*|\{\d+(?:,\d*)?\})?(?P<lazy>\?)?$"
)


def _parse_quant(
    q: str | None, lazy: str | None
) -> tuple[str, int, int | None, bool]:
    """-> (kind, min_n, max_n, greedy) with kind in {"one", "opt",
    "loop"}. Loops are greedy unless the reluctant ``?`` suffix is
    present (MATCH_RECOGNIZE's default munch)."""
    if q is None:
        return ("one", 1, 1, False)
    if q == "?":
        if lazy:
            raise ValueError(
                "reluctant optional (??) is not supported — the matcher's "
                "optional step is inherently greedy no-lookahead"
            )
        return ("opt", 0, 1, False)
    greedy = not lazy
    if q == "+":
        return ("loop", 1, None, greedy)
    if q == "*":
        return ("loop", 0, None, greedy)
    m = re.fullmatch(r"\{(\d+)(?:,(\d*))?\}", q)
    lo = int(m.group(1))
    if m.group(2) is None:       # {m} — exactly m
        return ("loop", lo, lo, greedy)
    if m.group(2) == "":         # {m,} — at least m
        return ("loop", lo, None, greedy)
    hi = int(m.group(2))
    if hi < lo:
        raise ValueError(f"quantifier {q}: max < min")
    return ("loop", lo, hi, greedy)


def compile_pattern(
    pattern: str,
    define: dict,
    bind=True,
) -> dict:
    """Compile a pattern string + DEFINE map into matcher kwargs:
    ``{"steps": [...], "optional_steps": set|None, "strict_steps":
    set|None, "step_names": [...], "step_vars": [[...], ...]}``
    (``step_vars`` lists the DEFINE variables composing each step, in
    pattern order). ``steps`` entries are Columns /
    Column lists / :class:`LoopStep` when ``define`` holds Columns
    (feed :func:`match_sequence`), or literals / tuples / value-bearing
    LoopSteps when it holds strings (feed
    :func:`match_sequence_stream`'s ``step_values``). Structural
    validation (which positions may be optional/loop/strict) is the
    matcher's job — this layer only parses."""
    if not define:
        raise ValueError("define must map every pattern variable")
    kinds = {isinstance(v, Column) for v in define.values()}
    if len(kinds) != 1:
        raise ValueError(
            "define must be all-Column (batch) or all-literal (stream), "
            "not a mix"
        )
    is_batch = kinds.pop()
    toks = pattern.split()
    if not toks:
        raise ValueError("empty pattern")
    steps: list = []
    names: list[str] = []
    step_vars: list[list[str]] = []
    optional: set[int] = set()
    strict: set[int] = set()
    excluded: set[int] = set()
    expect_strict = False
    excluding = False
    for tok in toks:
        if tok == ">":
            if not steps or expect_strict:
                raise ValueError(
                    "'>' (strict contiguity) must sit between two pattern "
                    "elements"
                )
            expect_strict = True
            continue
        if tok == "{-":
            if excluding:
                raise ValueError("nested {- exclusion is not supported")
            excluding = True
            continue
        if tok == "-}":
            if not excluding:
                raise ValueError("-} without a matching {-")
            excluding = False
            continue
        m = _TOKEN.fullmatch(tok)
        if not m:
            raise ValueError(f"bad pattern token: {tok!r}")
        variables = (
            [m.group("var")] if m.group("var") else m.group("alts").split("|")
        )
        missing = [v for v in variables if v not in define]
        if missing:
            raise ValueError(f"pattern variable(s) not in define: {missing}")
        preds = [define[v] for v in variables]
        kind, lo, hi, greedy = _parse_quant(m.group("q"), m.group("lazy"))
        name = "_".join(v.lower() for v in variables)
        pos = len(steps) + 1
        if kind == "loop":
            b = bind.get(name, True) if isinstance(bind, dict) else bind
            if is_batch:
                steps.append(
                    LoopStep(
                        pred=preds[0] if len(preds) == 1 else preds,
                        min_n=lo, max_n=hi, bind=b, name=name,
                        greedy=greedy,
                    )
                )
            else:
                steps.append(
                    LoopStep(
                        value=preds[0] if len(preds) == 1 else tuple(preds),
                        min_n=lo, max_n=hi, bind=b, name=name,
                        greedy=greedy,
                    )
                )
        else:
            if kind == "opt":
                optional.add(pos)
            if is_batch:
                steps.append(preds[0] if len(preds) == 1 else preds)
            else:
                steps.append(preds[0] if len(preds) == 1 else tuple(preds))
        if expect_strict:
            strict.add(pos)
            expect_strict = False
        if excluding:
            excluded.add(pos)
        names.append(name)
        step_vars.append(variables)
    if expect_strict:
        raise ValueError("pattern ends with a dangling '>'")
    if excluding:
        raise ValueError("pattern ends inside a {- exclusion")
    if steps and isinstance(steps[-1], LoopStep) and steps[-1].greedy:
        # a FINAL loop has no closer: greedy == reluctant, and the
        # matcher rejects an explicit greedy flag there — emit reluctant
        steps[-1] = replace(steps[-1], greedy=False)
    return {
        "steps": steps,
        "optional_steps": optional or None,
        "strict_steps": strict or None,
        "step_names": names,
        "step_vars": step_vars,
        # {- X -} exclusion: affects ONLY the ALL ROWS PER MATCH output
        # (the standard's semantics — matching is unchanged, the bound
        # rows are simply omitted); a documented no-op in one-row mode
        "excluded_steps": excluded or None,
    }


def match_recognize(
    df: DataFrame,
    pattern: str,
    define: dict[str, Column],
    key_cols: list[str],
    **kwargs,
) -> DataFrame:
    """One-call MATCH_RECOGNIZE-style batch matching::

        match_recognize(
            events,
            "V (C|S)+ > P",
            define={"V": F.col("event_type") == "view",
                    "C": F.col("event_type") == "click",
                    "S": F.col("event_type") == "signup",
                    "P": F.col("event_type") == "purchase"},
            key_cols=["user_id"], within="2 hours",
        )

    compiles the pattern (``bind=`` may be passed through for loop
    measures) and delegates every other kwarg to
    :func:`~rtfproc_spark.operators.cep.match_sequence` — ``within``,
    ``after_match``, ``forbid``, ``counts``, ``contiguous`` …"""
    spec = compile_pattern(pattern, define, bind=kwargs.pop("bind", True))
    return match_sequence(
        df,
        spec["steps"],
        key_cols,
        optional_steps=spec["optional_steps"],
        strict_steps=spec["strict_steps"],
        **kwargs,
    )


def match_recognize_stream(
    stream: DataFrame,
    pattern: str,
    define: dict[str, str],
    key_col: str = "user_id",
    **kwargs,
) -> DataFrame:
    """Streaming twin of :func:`match_recognize`: ``define`` maps
    variables to ``type_col`` literals and the compiled spec feeds
    :func:`~rtfproc_spark.operators.cep.match_sequence_stream`."""
    spec = compile_pattern(pattern, define, bind=kwargs.pop("bind", True))
    return match_sequence_stream(
        stream,
        spec["steps"],
        key_col=key_col,
        optional_steps=spec["optional_steps"],
        strict_steps=spec["strict_steps"],
        **kwargs,
    )


# ---------------------------------------------------------------------------
# SQL MATCH_RECOGNIZE clause surface
# ---------------------------------------------------------------------------

_SECTION_KWS = (
    "PARTITION BY", "ORDER BY", "MEASURES", "ONE ROW PER MATCH",
    "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN", "SUBSET", "WITHIN",
    "DEFINE",
)


def _scan_sections(body: str) -> dict[str, str]:
    """Split a MATCH_RECOGNIZE body into its clause sections. Keywords
    are recognised case-insensitively at paren depth 0 and outside
    single-quoted literals, so DEFINE/MEASURES expressions may freely
    contain parens, commas and quoted strings. Known restriction: a bare
    column named like a clause keyword (``pattern``, ``measures`` …) at
    depth 0 of a DEFINE/MEASURES expression would start a new section —
    parenthesise the expression to shield it."""
    upper = body.upper()
    marks: list[tuple[str, int, int]] = []
    i, depth, n = 0, 0, len(body)
    while i < n:
        c = body[i]
        if c == "'":
            j = body.find("'", i + 1)
            if j < 0:
                raise ValueError("unterminated string literal in clause")
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and (i == 0 or not (body[i - 1].isalnum()
                                            or body[i - 1] == "_")):
            for kw in _SECTION_KWS:
                end = i + len(kw)
                if upper.startswith(kw, i) and (
                    end >= n or not (body[end].isalnum() or body[end] == "_")
                ):
                    marks.append((kw, i, end))
                    i = end
                    break
            else:
                i += 1
            continue
        i += 1
    out: dict[str, str] = {}
    for idx, (kw, _s, e) in enumerate(marks):
        nxt = marks[idx + 1][1] if idx + 1 < len(marks) else n
        if kw in out:
            raise ValueError(f"duplicate {kw} section")
        out[kw] = body[e:nxt].strip()
    return out


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0, respecting quoted literals."""
    parts, buf, depth, i, n = [], [], 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            j = s.find("'", i + 1)
            if j < 0:
                raise ValueError("unterminated string literal")
            buf.append(s[i:j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(c)
        i += 1
    parts.append("".join(buf).strip())
    return [p for p in parts if p]


def _rewrite_measure(
    expr: str,
    varmap: dict[str, tuple[int, bool, str]],
    time_col: str,
    id_col: str,
    all_rows: bool,
    payload: dict | None = None,
    subsets: dict[str, list[str]] | None = None,
    key_cols: list[str] | None = None,
    running: bool = True,
) -> str:
    """Rewrite MATCH_RECOGNIZE variable references in a measure
    expression to the matcher's output columns. ``varmap`` maps each
    DEFINE variable to (1-based step position, is_loop, step name).

    References to SOURCE PAYLOAD columns (anything other than
    ``time_col``/``id_col``) cannot be served by the match frame itself —
    when ``payload`` is given (the batch one-row-per-match path), they
    are recorded as post-hoc join-back requests (``payload["row"]`` maps
    ``(match id column, source column) -> generated column``;
    ``payload["loop"]`` maps ``(loop name, agg, source column)`` — served
    by :func:`~rtfproc_spark.operators.measures.attach_row_payload` /
    :func:`~rtfproc_spark.operators.measures.loop_measures`) and the
    expression is rewritten onto the generated column.

    Under ALL ROWS PER MATCH (``payload`` None) aggregate references
    become WINDOW expressions over the expanded frame — the per-match
    partition is ``(key_cols, match_no)`` ordered by ``row_in_match``,
    RUNNING (``running=True``, the mode's default) framed to the current
    row and FINAL to the whole match — since every expanded row carries
    the source columns and its ``classifier``. Bare payload references
    still raise (ambiguous per-row form — read the source column
    directly)."""
    def _pay_row(mid: str, col: str) -> str:
        if payload is None:
            raise ValueError(
                f"payload measures need ONE ROW PER MATCH (ALL ROWS "
                f"expansion rows carry the source columns directly) — "
                f"got a reference to {col!r}"
            )
        return payload["row"].setdefault((mid, col), f"_pay_{mid}_{col}")

    def _ambig(var: str, what: str) -> None:
        # same rule as the ALL ROWS path's _cls_name (round-8 ADVICE:
        # the two modes were inconsistent): a variable sharing its
        # element with others (alternation) is not separable — element-
        # wide measures would silently mix the branches' rows
        _, _, name = varmap[var]
        if name != var.lower():
            raise ValueError(
                f"{what} over {var} is ambiguous — {var} shares element "
                f"{name!r} with other variables; aggregate over the "
                f"element via a variable of its own"
            )

    def _col(var: str, col: str, fl: str | None) -> str:
        pos, is_loop, name = varmap[var]
        if is_loop:
            _ambig(var, f"{fl.upper()}({var}.{col})" if fl
                   else f"{var}.{col}")
            if fl is None:
                raise ValueError(
                    f"{var} is a loop variable — reference it via "
                    f"FIRST({var}.{col}) / LAST({var}.{col}) / "
                    f"COUNT({var}.*) / SUM|AVG|MIN|MAX({var}.{col})"
                )
            if col == time_col:
                return f"{fl}_{name}_ts"
            if col == id_col:
                return f"{fl}_{name}_id"
            # FIRST/LAST of a loop payload column: a row join-back on
            # the loop's first/last hop id (needs only bind=True)
            if payload is not None:
                payload["bind"].setdefault(name, True)
            return _pay_row(f"{fl}_{name}_id", col)
        # single-row variable: FIRST(X.c) == LAST(X.c) == X.c
        _ambig(var, f"{fl.upper()}({var}.{col})" if fl
               else f"{var}.{col}")
        if col == time_col:
            return f"ts_{pos}"
        if col == id_col:
            return f"id_{pos}"
        return _pay_row(f"id_{pos}", col)

    # SUBSET union variables expand FIRST — into compositions over their
    # component variables, which the later passes then rewrite.  The
    # supported algebra is the decomposable one: FIRST/MIN = LEAST of
    # component firsts, LAST/MAX = GREATEST of component lasts (Spark's
    # least/greatest skip NULLs — exactly union-aggregate semantics for
    # unbound optionals / empty loops), COUNT(W.*) = sum of component
    # counts. SUM/AVG/COUNT over a subset payload column and bare W.col
    # raise (their empty-union NULL semantics don't compose textually).
    if subsets:
        def _comp_count(c: str) -> str:
            pos, is_loop, name = varmap[c]
            # under ALL ROWS every component counts via its classifier
            # window — running-correct (the id-CASE form below is a
            # match-level constant, wrong for a RUNNING frame)
            if is_loop or all_rows:
                return f"COUNT({c}.*)"
            # a bound single-row var contributes 1; a skipped optional
            # binds nothing (its id is NULL in the frame)
            return (f"(CASE WHEN {c}.{id_col} IS NULL THEN 0 ELSE 1 "
                    f"END)")

        def _sub_count(m: re.Match) -> str:
            w = m.group(1)
            if w not in subsets:
                return m.group(0)
            return "(" + " + ".join(
                _comp_count(c) for c in subsets[w]
            ) + ")"

        expr = re.sub(
            r"\bCOUNT\s*\(\s*(\w+)\s*\.\s*\*\s*\)", _sub_count, expr,
            flags=re.IGNORECASE,
        )

        def _sub_agg(m: re.Match) -> str:
            agg, w, col = m.group(1).upper(), m.group(2), m.group(3)
            if w not in subsets:
                return m.group(0)
            if agg in ("SUM", "AVG", "COUNT"):
                if col in (time_col, id_col):
                    raise ValueError(
                        f"{agg}({w}.{col}) over the time/id column is "
                        "not supported — aggregate a payload column or "
                        "use COUNT(W.*)"
                    )
                # null-aware composition: empty union -> NULL (SQL
                # aggregate-over-empty), else sum of coalesced parts
                def _part(c: str, a: str) -> str:
                    _, is_loop, _ = varmap[c]
                    if is_loop:
                        return f"{a.upper()}({c}.{col})"
                    if a == "sum":
                        return f"FIRST({c}.{col})"
                    return (f"(CASE WHEN FIRST({c}.{col}) IS NULL "
                            f"THEN 0 ELSE 1 END)")

                cnt = "(" + " + ".join(
                    f"COALESCE({_part(c, 'count')}, 0)"
                    for c in subsets[w]
                ) + ")"
                if agg == "COUNT":
                    return cnt
                tot = "(" + " + ".join(
                    f"COALESCE({_part(c, 'sum')}, 0)"
                    for c in subsets[w]
                ) + ")"
                if agg == "SUM":
                    return f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {tot} END)"
                return (f"(CASE WHEN {cnt} = 0 THEN NULL "
                        f"ELSE {tot} / {cnt} END)")
            lo = agg in ("FIRST", "MIN")
            outer = "LEAST" if lo else "GREATEST"
            parts = []
            for c in subsets[w]:
                _, is_loop, _ = varmap[c]
                if is_loop:
                    parts.append(f"{'FIRST' if lo else 'LAST'}({c}.{col})"
                                 if col in (time_col, id_col)
                                 else f"{'MIN' if lo else 'MAX'}({c}.{col})")
                else:
                    # FIRST(X.c) == X.c for a single-row variable, and
                    # the FIRST/LAST form is what the ALL ROWS window
                    # pass can serve for payload columns
                    parts.append(f"{'FIRST' if lo else 'LAST'}({c}.{col})")
            if col == id_col:
                raise ValueError(
                    f"{agg}({w}.{id_col}) is not decomposable — the id "
                    "achieving the extreme timestamp is not an extreme "
                    "id; reference the component variables instead"
                )
            if len(parts) == 1:  # least/greatest need >=2 args
                return f"({parts[0]})"
            return f"{outer}({', '.join(parts)})"

        expr = re.sub(
            r"\b(FIRST|LAST|MIN|MAX|SUM|AVG|COUNT)\s*\(\s*(\w+)\s*\.\s*"
            r"(\w+)\s*\)", _sub_agg, expr, flags=re.IGNORECASE,
        )

        def _sub_bare(m: re.Match) -> str:
            if m.group(1) in subsets:
                raise ValueError(
                    f"bare {m.group(0)} reference to a SUBSET variable — "
                    "use FIRST/LAST/MIN/MAX/COUNT over it"
                )
            return m.group(0)

        re.sub(r"\b(\w+)\s*\.\s*(\w+)", _sub_bare, expr)

    if all_rows:
        ks = ", ".join([*(key_cols or []), "match_no"])
        frame = (
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            if running else
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        )
        win = (f" OVER (PARTITION BY {ks} ORDER BY row_in_match {frame})")

        def _cls_name(var: str, what: str) -> str:
            if var not in varmap:
                raise ValueError(
                    f"unknown pattern variable in measures: {var}"
                )
            pos, _, name = varmap[var]
            # classifier carries the element NAME — a variable sharing
            # its element with others (alternation) is not separable
            if name != var.lower():
                raise ValueError(
                    f"{what} over {var} is ambiguous — {var} shares "
                    f"element {name!r} with other variables; aggregate "
                    f"over the element via a variable of its own"
                )
            return name

        def _war_count(m: re.Match) -> str:
            name = _cls_name(m.group(1), "COUNT(*)")
            return (f"count(CASE WHEN classifier = '{name}' THEN 1 END)"
                    f"{win}")

        expr = re.sub(
            r"\bCOUNT\s*\(\s*(\w+)\s*\.\s*\*\s*\)", _war_count, expr,
            flags=re.IGNORECASE,
        )

        def _war_agg(m: re.Match) -> str:
            agg, var, col = m.group(1).lower(), m.group(2), m.group(3)
            name = _cls_name(var, f"{agg.upper()}({var}.{col})")
            guarded = f"CASE WHEN classifier = '{name}' THEN {col} END"
            if agg in ("first", "last"):
                return f"{agg}_value({guarded}, true){win}"
            return f"{agg}({guarded}){win}"

        expr = re.sub(
            r"\b(FIRST|LAST|SUM|AVG|MIN|MAX|COUNT)\s*\(\s*(\w+)\s*\.\s*"
            r"(\w+)\s*\)", _war_agg, expr, flags=re.IGNORECASE,
        )
        # COUNT(*): rows so far in the match (RUNNING == row_in_match)
        expr = re.sub(
            r"\bCOUNT\s*\(\s*\*\s*\)",
            "row_in_match" if running else f"count(1){win}",
            expr, flags=re.IGNORECASE,
        )

    def _fl(m: re.Match) -> str:
        var = m.group(2)
        if var not in varmap:
            raise ValueError(f"unknown pattern variable in measures: {var}")
        return _col(var, m.group(3), m.group(1).lower())

    expr = re.sub(
        r"\b(FIRST|LAST)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)", _fl, expr,
        flags=re.IGNORECASE,
    )

    def _count(m: re.Match) -> str:
        var = m.group(1)
        if var not in varmap:
            raise ValueError(f"unknown pattern variable in measures: {var}")
        pos, is_loop, name = varmap[var]
        if not is_loop:
            raise ValueError(
                f"COUNT({var}.*) needs a loop variable — {var} binds one row"
            )
        _ambig(var, f"COUNT({var}.*)")
        return f"n_{name}"

    expr = re.sub(
        r"\bCOUNT\s*\(\s*(\w+)\s*\.\s*\*\s*\)", _count, expr,
        flags=re.IGNORECASE,
    )

    def _agg(m: re.Match) -> str:
        agg, var, col = m.group(1).lower(), m.group(2), m.group(3)
        if var not in varmap:
            raise ValueError(f"unknown pattern variable in measures: {var}")
        pos, is_loop, name = varmap[var]
        if not is_loop:
            raise ValueError(
                f"{agg.upper()}({var}.{col}) needs a loop variable — "
                f"{var} binds one row, reference {var}.{col} directly"
            )
        _ambig(var, f"{agg.upper()}({var}.{col})")
        # MIN/MAX over the loop's own time column ARE the first/last
        # binding measures (hops are (ts, id)-ordered) — no join needed
        if col == time_col and agg in ("min", "max"):
            return f"{'first' if agg == 'min' else 'last'}_{name}_ts"
        if payload is None:
            raise ValueError(
                f"loop aggregates need ONE ROW PER MATCH — under ALL "
                f"ROWS PER MATCH aggregate the expanded rows instead "
                f"(got {agg.upper()}({var}.{col}))"
            )
        payload["bind"][name] = "all"
        return payload["loop"].setdefault(
            (name, agg, col), f"_agg_{name}_{agg}_{col}"
        )

    expr = re.sub(
        r"\b(SUM|AVG|MIN|MAX|COUNT)\s*\(\s*(\w+)\s*\.\s*(\w+)\s*\)",
        _agg, expr, flags=re.IGNORECASE,
    )
    for fn, col in (("MATCH_NUMBER", "match_no"), ("CLASSIFIER",
                                                   "classifier")):
        pat = r"\b" + fn + r"\s*\(\s*\)"
        if re.search(pat, expr, flags=re.IGNORECASE):
            if not all_rows:
                raise ValueError(
                    f"{fn}() needs ALL ROWS PER MATCH (the one-row output "
                    "carries no per-row classifier / match ordinal)"
                )
            expr = re.sub(pat, col, expr, flags=re.IGNORECASE)

    def _bare(m: re.Match) -> str:
        var = m.group(1)
        if var not in varmap:
            return m.group(0)  # table alias etc. — leave untouched
        return _col(var, m.group(2), None)

    return re.sub(r"\b(\w+)\s*\.\s*(\w+)", _bare, expr)


_NAV_OPEN = re.compile(r"\b(PREV|NEXT)\s*\(", flags=re.IGNORECASE)


def _mask_literals(expr: str):
    """Replace each quoted literal (``''`` escapes included) with a
    ``\x00<i>\x00`` token, so scans for parentheses, ``AND``,
    ``PREV(``/``NEXT(`` and ``VAR.col`` never look inside one. Returns the
    masked string and a function restoring the literals in any piece of
    it."""
    lits: list[str] = []

    def _mask(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x00{len(lits) - 1}\x00"

    def unmask(s: str) -> str:
        return re.sub(r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], s)

    return re.sub(r"'(?:[^']|'')*'", _mask, expr), unmask


def _strip_var_quals(expr: str, variables: set[str]) -> str:
    """Rewrite ``VAR.col`` -> ``col`` for pattern variables (used inside
    PREV/NEXT, where the navigated row serves every variable reference);
    other qualified names (struct field access) are left untouched."""
    def _s(m: re.Match) -> str:
        return m.group(2) if m.group(1) in variables else m.group(0)

    return re.sub(r"\b(\w+)\s*\.\s*(\w+)", _s, expr)


def _lower_define_nav(
    expr: str,
    var: str,
    variables: set[str],
    nav: dict[tuple[str, str, int], str],
) -> str:
    """Lower a batch DEFINE expression's MATCH_RECOGNIZE navigation to
    generated physical-offset columns: ``PREV(e[, n])`` / ``NEXT(e[, n])``
    become references to ``__nav_*`` columns (computed as ``lag``/``lead``
    of ``e`` over the partition order before matching — PHYSICAL
    navigation over the input partition, the standard's DEFINE-time
    semantics), recorded in ``nav`` keyed by (kind, normalized expr,
    offset) so textually-equal navigations share one column.  Variable-
    qualified references are resolved: inside PREV/NEXT every ``VAR.col``
    is the navigated row's column; outside, ``<self>.col`` is the row
    under classification and a reference to a DIFFERENT variable (the
    last-matched-row running reference) is masked with a ``__cross__``
    token, lowered to a :class:`~rtfproc_spark.operators.cep.CrossPred`
    once the pattern parse has fixed step positions."""
    expr, unmask = _mask_literals(expr)
    out: list[str] = []
    pos = 0
    while True:
        m = _NAV_OPEN.search(expr, pos)
        if m is None:
            out.append(expr[pos:])
            break
        out.append(expr[pos:m.start()])
        kind = m.group(1).lower()
        depth, i = 1, m.end()
        while i < len(expr) and depth:
            if expr[i] == "(":
                depth += 1
            elif expr[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError(
                f"unbalanced {kind.upper()}( in DEFINE {var}"
            )
        inner = expr[m.end():i - 1]
        if _NAV_OPEN.search(inner):
            raise ValueError(
                "nested PREV/NEXT navigation is not supported"
            )
        parts = _split_top(inner)
        n = 1
        if len(parts) == 2 and re.fullmatch(r"\d+", parts[1].strip()):
            inner, n = parts[0], int(parts[1].strip())
        elif len(parts) != 1:
            raise ValueError(
                f"{kind.upper()} takes (expr[, integer offset]) — got "
                f"({unmask(inner)})"
            )
        norm = unmask(" ".join(_strip_var_quals(inner, variables).split()))
        gen = nav.setdefault((kind, norm, n), f"__nav_{kind}{n}_{len(nav)}")
        out.append(gen)
        pos = i
    res = "".join(out)

    def _q(m: re.Match) -> str:
        v, col = m.group(1), m.group(2)
        if v not in variables:
            return m.group(0)
        if v != var:
            # cross-variable (last-matched-row) reference — marked with a
            # token here and lowered to a CrossPred once the pattern parse
            # has fixed every variable's step position
            return f"__cross__{v}__dot__{col}"
        return col

    return unmask(re.sub(r"\b(\w+)\s*\.\s*(\w+)", _q, res))


_CROSS_TOKEN = re.compile(r"__cross__(\w+)__dot__(\w+)")


def _split_top_and(expr: str) -> list[str]:
    """Split an expression on top-level ``AND`` (outside parens; string
    literals must already be masked)."""
    parts: list[str] = []
    depth, start, i, n = 0, 0, 0, len(expr)
    up = expr.upper()
    while i < n:
        c = expr[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and up.startswith("AND", i)
            and (i == 0 or not (expr[i - 1].isalnum() or expr[i - 1] == "_"))
            and (i + 3 >= n or not (expr[i + 3].isalnum()
                                    or expr[i + 3] == "_"))
        ):
            parts.append(expr[start:i])
            i += 3
            start = i
            continue
        i += 1
    parts.append(expr[start:])
    return [p.strip() for p in parts if p.strip()]


def _build_cross_pred(
    expr: str,
    var: str,
    varmap: dict[str, tuple[int, bool, str]],
    known_cols: set[str],
    time_col: str,
    id_col: str,
):
    """Lower a nav-lowered DEFINE expression containing cross-variable
    tokens (``__cross__V__dot__col``) to a
    :class:`~rtfproc_spark.operators.cep.CrossPred`:

    - ``V.{time_col}`` / ``V.{id_col}`` become direct ``ts_<j>`` /
      ``id_<j>`` references (already on the partial frame — no capture);
    - other ``V.col`` become ``_def_<j>_<col>`` captures;
    - the candidate's own column references inside cross conjuncts become
      ``_ev_<col>``;
    - top-level AND conjuncts with NO cross reference form the ``local``
      pre-filter (pushed into the candidate scan — predicate pushdown is
      kept for the variable-free part of the DEFINE)."""
    from .cep import CrossPred

    masked, unmask = _mask_literals(expr)
    # FIRST/LAST over a single-row prior variable is the variable's row
    masked = re.sub(
        r"\b(?:FIRST|LAST)\s*\(\s*(__cross__\w+__dot__\w+)\s*\)",
        r"\1", masked, flags=re.IGNORECASE,
    )
    if re.search(r"\b(?:FIRST|LAST|PREV|NEXT)\s*\([^()]*__cross__",
                 masked, flags=re.IGNORECASE):
        raise ValueError(
            f"DEFINE {var}: FIRST/LAST/PREV/NEXT with an offset (or "
            "nested navigation) over another variable is not supported — "
            "a prior single-row variable has exactly one bound row"
        )
    needs: list[tuple[int, str]] = []
    ev_cols: list[str] = []

    def _xsub(m: re.Match) -> str:
        v2, col = m.group(1), m.group(2)
        if v2 not in varmap:
            raise ValueError(
                f"DEFINE {var} references {v2}.{col}, but {v2} is not a "
                "pattern variable"
            )
        j, is_loop2, name2 = varmap[v2]
        if is_loop2:
            raise ValueError(
                f"DEFINE {var} references loop variable {v2} — a loop "
                "binds no single row; reference its closer instead"
            )
        if name2 != v2.lower():
            raise ValueError(
                f"DEFINE {var} references {v2}, which shares an "
                "alternation element with other variables — ambiguous"
            )
        if col == time_col:
            return f"ts_{j}"
        if col == id_col:
            return f"id_{j}"
        if col not in known_cols:
            raise ValueError(
                f"DEFINE {var} references {v2}.{col} — {col!r} is not an "
                "input column"
            )
        if (j, col) not in needs:
            needs.append((j, col))
        return f"_def_{j}_{col}"

    def _esub(m: re.Match) -> str:
        tok = m.group(0)
        if tok in known_cols:
            if tok not in ev_cols:
                ev_cols.append(tok)
            return f"_ev_{tok}"
        return tok

    local_parts: list[str] = []
    cross_parts: list[str] = []
    for conj in _split_top_and(masked):
        if "__cross__" not in conj:
            local_parts.append(conj)
            continue
        c = _CROSS_TOKEN.sub(_xsub, conj)
        # the candidate's own columns — rewritten to the join's _ev_
        # names; identifiers followed by '(' are function calls
        c = re.sub(r"(?<![.\w])[A-Za-z_]\w*\b(?!\s*\()", _esub, c)
        cross_parts.append(c)

    from pyspark.sql import functions as F

    if not cross_parts:  # defensive — caller only routes cross exprs here
        raise ValueError(f"DEFINE {var}: no cross-variable conjunct found")
    pred = F.expr(unmask(" AND ".join(f"({p})" for p in cross_parts)))
    local = (
        F.expr(unmask(" AND ".join(f"({p})" for p in local_parts)))
        if local_parts else None
    )
    return CrossPred(
        pred=pred,
        needs=tuple(needs),
        ev_cols=tuple(sorted(ev_cols)),
        local=local,
    )


_STREAM_DEFINE = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s*(?:=\s*'(?P<lit>[^']*)'"
    r"|IN\s*\(\s*(?P<ins>'[^']*'(?:\s*,\s*'[^']*')*)\s*\))\s*$",
    flags=re.IGNORECASE,
)


_STREAM_NAV = re.compile(
    r"^\s*(?P<ca>\w+)\s*(?P<cmp><=|>=|<>|=|<|>)\s*"
    r"PREV\s*\(\s*(?P<cb>\w+)\s*(?:,\s*(?P<n>\d+)\s*)?\)\s*$",
    flags=re.IGNORECASE,
)
_STREAM_NAV_REV = re.compile(
    r"^\s*PREV\s*\(\s*(?P<cb>\w+)\s*(?:,\s*(?P<n>\d+)\s*)?\)\s*"
    r"(?P<cmp><=|>=|<>|=|<|>)\s*(?P<ca>\w+)\s*$",
    flags=re.IGNORECASE,
)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "<>": "<>"}

_STREAM_CROSS = re.compile(
    r"^\s*(?P<ca>[A-Za-z_]\w*)\s*(?P<cmp><=|>=|<>|=|<|>)\s*"
    r"(?P<v>[A-Za-z_]\w*)\.(?P<cb>[A-Za-z_]\w*)\s*$",
)
_STREAM_CROSS_REV = re.compile(
    r"^\s*(?P<v>[A-Za-z_]\w*)\.(?P<cb>[A-Za-z_]\w*)\s*"
    r"(?P<cmp><=|>=|<>|=|<|>)\s*(?P<ca>[A-Za-z_]\w*)\s*$",
)
# FIRST/LAST sugar over a single-row prior variable — identical to the
# bare reference (the batch _build_cross_pred unwraps the same way);
# a loop reference is rejected downstream by the engine validation
_STREAM_CROSS_FL = re.compile(
    r"^\s*(?P<ca>[A-Za-z_]\w*)\s*(?P<cmp><=|>=|<>|=|<|>)\s*"
    r"(?:FIRST|LAST)\s*\(\s*(?P<v>[A-Za-z_]\w*)\.(?P<cb>[A-Za-z_]\w*)"
    r"\s*\)\s*$",
    flags=re.IGNORECASE,
)
_STREAM_CROSS_FL_REV = re.compile(
    r"^\s*(?:FIRST|LAST)\s*\(\s*(?P<v>[A-Za-z_]\w*)\."
    r"(?P<cb>[A-Za-z_]\w*)\s*\)\s*"
    r"(?P<cmp><=|>=|<>|=|<|>)\s*(?P<ca>[A-Za-z_]\w*)\s*$",
    flags=re.IGNORECASE,
)
# row-local constant comparison: value > 10 (either side)
_STREAM_LOCAL = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s*(?P<cmp><=|>=|<>|=|<|>)\s*"
    r"(?P<cst>-?\d+(?:\.\d+)?)\s*$",
)
_STREAM_LOCAL_REV = re.compile(
    r"^\s*(?P<cst>-?\d+(?:\.\d+)?)\s*"
    r"(?P<cmp><=|>=|<>|=|<|>)\s*(?P<col>[A-Za-z_]\w*)\s*$",
)
# same-row column-to-column comparison: clicks > views (tried LAST so
# nav/cross/constant forms take precedence)
_STREAM_LOCAL_COL = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s*(?P<cmp><=|>=|<>|=|<|>)\s*"
    r"(?P<rhs>[A-Za-z_]\w*)\s*$",
)


def _lower_stream_define(
    raw: dict[str, str],
) -> tuple[str | None, dict[str, str | tuple], dict[str, list], dict,
           dict]:
    """Lower DEFINE expression strings to the stream matcher's literal
    vocabulary: each predicate is a top-level AND of ``<col> = '<lit>'``
    / ``<col> IN ('a', 'b', …)`` conjuncts over ONE shared column (the
    ``type_col``) and — round 8, buffered mode — PREV navigation
    comparisons ``<colA> <cmp> PREV(<colB>[, n])`` (either side), the
    ticker's ``value < PREV(value)``, plus CROSS-VARIABLE comparisons
    ``<colA> <cmp> <Var>.<colB>`` (either side; ``FIRST/LAST(<Var>.
    <colB>)`` sugar accepted for single-row priors, like batch) — the
    last-matched-row running reference (``P AS value > V.value``),
    carried in CEP state, plus row-local CONSTANT
    comparisons ``<col> <cmp> <number>`` (either side — ``value > 10``;
    nothing enters CEP state). A variable with ONLY nav/cross/local
    conjuncts lowers to the ``"*"`` wildcard vocabulary value.
    Arbitrary other predicates cannot live in serialized CEP state and
    raise. Returns ``(type_col, define, navmap, crossmap, localmap)`` —
    ``type_col`` is None when every variable is type-free; ``crossmap``
    maps var -> [(ev_col, cmp, referenced_var, ref_col), ...];
    ``localmap`` var -> [(col, cmp, constant), ...]."""
    type_col: str | None = None
    out: dict[str, str | tuple] = {}
    navmap: dict[str, list] = {}
    crossmap: dict[str, list] = {}
    localmap: dict[str, list] = {}
    # literals masked first: a literal containing ' AND ' (event_type =
    # 'a AND b', or such a value in an IN list) must not split
    # mid-string, nor one reading 'NEXT(1)' trip the NEXT probe
    masked = {var: _mask_literals(expr) for var, expr in raw.items()}
    if any(re.search(r"\bNEXT\s*\(", m, flags=re.IGNORECASE)
           for m, _ in masked.values()):
        raise ValueError(
            "NEXT navigation is batch-only — lead() over an unbounded "
            "stream has no append-mode expression (PREV IS supported "
            "on the buffered ordered=False path)"
        )
    for var, (expr, unmask) in masked.items():
        lit_val: str | tuple | None = None
        for conj in _split_top_and(expr):
            conj = unmask(conj)
            lm = _STREAM_LOCAL.fullmatch(conj)
            l_flip = None
            if lm is None:
                lm = _STREAM_LOCAL_REV.fullmatch(conj)
                l_flip = _FLIP
            if lm is not None:
                cmp_ = lm.group("cmp")
                if l_flip:
                    cmp_ = l_flip[cmp_]
                localmap.setdefault(var, []).append(
                    (lm.group("col"), cmp_, float(lm.group("cst")))
                )
                continue
            nm = _STREAM_NAV.fullmatch(conj)
            cmp_flip = None
            if nm is None:
                nm = _STREAM_NAV_REV.fullmatch(conj)
                cmp_flip = _FLIP
            if nm is not None:
                cmp_ = nm.group("cmp")
                if cmp_flip:
                    cmp_ = cmp_flip[cmp_]
                navmap.setdefault(var, []).append(
                    (nm.group("ca"), cmp_, nm.group("cb"),
                     int(nm.group("n") or 1))
                )
                continue
            xm = x_flip = None
            for rx, fl in (
                (_STREAM_CROSS, None), (_STREAM_CROSS_REV, _FLIP),
                (_STREAM_CROSS_FL, None), (_STREAM_CROSS_FL_REV, _FLIP),
            ):
                xm = rx.fullmatch(conj)
                if xm is not None:
                    x_flip = fl
                    break
            if xm is not None and xm.group("v").upper() != "PREV":
                ref_v = xm.group("v")
                if ref_v not in raw:
                    raise ValueError(
                        f"streaming DEFINE {var}: {ref_v}.{xm.group('cb')} "
                        f"references unknown pattern variable {ref_v!r}"
                    )
                if ref_v == var:
                    raise ValueError(
                        f"streaming DEFINE {var} references itself — "
                        "iterative self-conditions are not supported; use "
                        "PREV physical navigation instead"
                    )
                cmp_ = xm.group("cmp")
                if x_flip:
                    cmp_ = x_flip[cmp_]
                crossmap.setdefault(var, []).append(
                    (xm.group("ca"), cmp_, ref_v, xm.group("cb"))
                )
                continue
            m = _STREAM_DEFINE.fullmatch(conj)
            if m is None:
                cm = _STREAM_LOCAL_COL.fullmatch(conj)
                if cm is not None:
                    # same-row column-to-column: rhs stays a string (the
                    # engine resolves it against the aux value vector)
                    localmap.setdefault(var, []).append(
                        (cm.group("col"), cm.group("cmp"),
                         cm.group("rhs"))
                    )
                    continue
                raise ValueError(
                    "streaming MATCH_RECOGNIZE DEFINEs must be AND-"
                    "conjunctions of <col> = '<lit>' / <col> IN ('a', …) "
                    "/ <colA> <cmp> PREV(<colB>[, n]) / <colA> <cmp> "
                    "<Var>.<colB> / <col> <cmp> <number> / <colA> <cmp> "
                    "<colB> — got "
                    f"{var} AS {conj!r} (the state machine matches "
                    "serializable literals and bounded PREV comparisons, "
                    "not arbitrary predicates)"
                )
            if lit_val is not None:
                raise ValueError(
                    f"streaming DEFINE {var}: at most one vocabulary "
                    "conjunct per variable"
                )
            col = m.group("col")
            if type_col is None:
                type_col = col
            elif col != type_col:
                raise ValueError(
                    "streaming DEFINEs must all test ONE column — got "
                    f"{type_col!r} and {col!r}"
                )
            if m.group("lit") is not None:
                lit_val = m.group("lit")
            else:
                vals = tuple(
                    v.strip()[1:-1]
                    for v in _split_top(m.group("ins"))
                )
                lit_val = vals[0] if len(vals) == 1 else vals
        if lit_val is None:
            if (var not in navmap and var not in crossmap
                    and var not in localmap):
                raise ValueError(f"streaming DEFINE {var} is empty")
            lit_val = "*"
        out[var] = lit_val
    return type_col, out, navmap, crossmap, localmap


def match_recognize_sql(
    df: DataFrame,
    clause: str,
    id_col: str = "event_id",
    defer_measures: bool = False,
    _apply_to: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Run a SQL ``MATCH_RECOGNIZE`` clause against a DataFrame::

        match_recognize_sql(events, '''
            MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES V.ts AS start_ts, COUNT(H.*) AS n_hops,
                       LAST(H.ts) AS last_hop, P.ts AS end_ts
              ONE ROW PER MATCH
              AFTER MATCH SKIP PAST LAST ROW
              PATTERN (V H+ P)
              WITHIN INTERVAL '2' HOUR
              DEFINE V AS event_type = 'view',
                     H AS event_type IN ('click', 'signup'),
                     P AS event_type = 'purchase'
            )''')

    Sections map onto the matcher surface: PARTITION BY → ``key_cols``,
    ORDER BY → ``time_col`` (single ascending column; ``id_col`` is the
    deterministic tiebreak), PATTERN → :func:`compile_pattern`'s grammar
    (quantifiers ``? + * {m,n}``, alternation groups, greedy loops with
    ``+?``-style reluctant suffixes, and the extension ``>`` marker for
    strict contiguity), DEFINE → ``F.expr`` predicates, WITHIN (the
    Flink-style extension) → ``within=``, AFTER MATCH SKIP TO NEXT ROW /
    SKIP PAST LAST ROW / SKIP TO FIRST|LAST <var> → ``after_match``.
    Batch DEFINEs support the standard's ``PREV(expr[, n])`` /
    ``NEXT(expr[, n])`` PHYSICAL navigation (the classic ticker surface,
    ``DOWN AS value < PREV(value)``): each distinct navigation is
    desugared to one ``lag``/``lead`` column over the partition order
    computed BEFORE matching, all sharing a single window spec, and a
    partition-edge navigation is NULL so the predicate fails — the
    standard's DEFINE-time semantics.  Plan shape: the matcher scans the
    source once per pattern position, so the window recomputes per
    branch (one shuffle+sort each, ~#steps total) — each branch keeps
    its own column pruning below the window (predicates CANNOT push
    past it, correctly: physical navigation is over the FULL partition,
    so filtering first would change what PREV sees — pre-filter the
    INPUT DataFrame instead when you want navigation over a subset);
    to trade the per-branch recompute for a single window pass on a
    very wide source, pre-compute the lag/lead columns yourself
    (persist/localCheckpoint) and call :func:`match_recognize` with
    explicit predicates over them.  ``<self>.col`` means the row
    under classification; referencing a DIFFERENT variable outside
    PREV/NEXT (``P AS value > V.value`` — the standard's last-matched-row
    running reference, Flink's IterativeCondition) lowers to a
    :class:`~rtfproc_spark.operators.cep.CrossPred` evaluated PER
    CANDIDATE at the step's join (a failing candidate is skipped, not
    the match), and on a STREAM to the state machine's ``cross_conds=``
    (captured values ride CEP state) — numeric payload
    comparisons only there; the referenced variable must be a required
    non-loop step bound earlier, the referencing one a required non-loop
    step or loop closer.
    ``PATTERN ((A B){m,n})`` — a quantified SEQUENCE group as the lone
    pattern — routes to
    :func:`~rtfproc_spark.operators.cep.match_repeated_group`: the
    group repeats r ∈ [m, n] times, the largest feasible r wins per
    anchor (trailing ``?`` picks the smallest), and the output carries
    ``n_reps`` + ``first/last_<var>_{ts,id}`` per group variable
    (batch-only, bounded n, no MEASURES/ALL ROWS/AFTER MATCH — the
    r-variant union is the construct's documented cost).
    ``PATTERN (PERMUTE(A, B, C))`` routes to
    :func:`~rtfproc_spark.operators.cep.match_permutation`
    (lexicographically-first ordering wins per starting row; batch-only,
    2..4 variables, not composable with AFTER MATCH / ALL ROWS): the
    output binds each variable by ORIGINAL index onto ``ts_k``/``id_k``
    plus ``perm_idx``, so MEASURES, payload join-backs, navigation and
    SUBSET compose unchanged.
    ``SUBSET W = (D, U)`` defines union variables for MEASURES (pure
    rewrite vocabulary, no engine involvement): ``COUNT(W.*)`` sums the
    component counts, ``FIRST/MIN`` and ``LAST/MAX`` compose as
    null-skipping LEAST/GREATEST over component extremes (unbound
    optionals and zero-hop loops drop out — union-aggregate semantics);
    ``SUM/AVG/COUNT(W.col)``, id-column extremes and bare ``W.col`` are
    not textually decomposable and raise with guidance.
    MEASURES may reference single-row variables as ``V.<col>`` (or
    FIRST/LAST of them) and loop variables via ``FIRST()/LAST()/
    COUNT(L.*)/SUM|AVG|MIN|MAX|COUNT(L.<col>)``; ``MATCH_NUMBER()``/
    ``CLASSIFIER()`` need ALL ROWS PER MATCH.  References to source
    PAYLOAD columns (anything beyond the ORDER BY/``id_col`` pair) are
    served by post-hoc join-backs against the source frame
    (:mod:`rtfproc_spark.operators.measures`): per-row payload joins on
    the bound id, loop aggregates explode the loop's hop-id array (its
    bind is auto-upgraded to ``"all"``) — batch ONE ROW PER MATCH only;
    on a live stream apply the helpers to the sink output instead. ONE ROW PER MATCH (default) outputs the partition columns
    plus the measures (or the matcher's full measure frame when no
    MEASURES section is given); ALL ROWS PER MATCH expands to one row
    per bound event via :func:`~rtfproc_spark.operators.cep.
    all_rows_per_match` (loops are compiled with ``bind="all"``).

    Divergences from the standard, inherited from the engine and
    documented there: relaxed contiguity by default (mark elements with
    ``>`` — or pass ``contiguous=True`` — for the standard's strict
    adjacency where the pattern shape allows it), no backtracking
    (greedy loops are possessive), and a SKIP TO NEXT ROW default when
    the clause has no AFTER MATCH section (one match per anchor — the
    engine's discipline; the standard defaults to SKIP PAST LAST ROW,
    so spell that clause out for standard behavior). Extra ``kwargs`` (``forbid``,
    ``counts``, ``session_gap`` …) pass through to
    :func:`~rtfproc_spark.operators.cep.match_sequence`.

    **Streaming**: when ``df.isStreaming``, the same clause runs on
    :func:`~rtfproc_spark.operators.cep.match_sequence_stream` — one
    PARTITION BY column, DEFINEs restricted to ``<col> = '<lit>'`` /
    ``<col> IN (…)`` over one shared column (lowered to the state
    machine's serializable vocabulary; arbitrary predicates cannot live
    in checkpointed state), ALL ROWS PER MATCH rejected (its expansion
    joins back to the input), and stream kwargs (``watermark``,
    ``ordered``, ``session_gap`` …) passed through."""
    body = clause.strip().rstrip(";").strip()
    m = re.match(r"^MATCH_RECOGNIZE\s*\(", body, flags=re.IGNORECASE)
    if m:
        if not body.endswith(")"):
            raise ValueError("MATCH_RECOGNIZE ( … ) is not closed")
        body = body[m.end():-1]
    sec = _scan_sections(body)
    for req in ("PARTITION BY", "ORDER BY", "PATTERN", "DEFINE"):
        if req not in sec:
            raise ValueError(f"missing {req} section")
    if "ONE ROW PER MATCH" in sec and "ALL ROWS PER MATCH" in sec:
        raise ValueError("choose ONE or ALL rows per match, not both")
    all_rows = "ALL ROWS PER MATCH" in sec

    key_cols = [c.strip() for c in sec["PARTITION BY"].split(",")]
    ob = sec["ORDER BY"].split(",")
    if len(ob) != 1:
        raise ValueError(
            "ORDER BY must name exactly one time column (row identity "
            f"ties break on id_col={id_col!r})"
        )
    ot = ob[0].split()
    if len(ot) == 2 and ot[1].upper() == "ASC":
        ot = ot[:1]
    if len(ot) != 1:
        raise ValueError(f"unsupported ORDER BY: {sec['ORDER BY']!r}")
    time_col = ot[0]

    from pyspark.sql import functions as F

    raw_define: dict[str, str] = {}
    for item in _split_top(sec["DEFINE"]):
        parts = re.split(r"\s+AS\s+", item, maxsplit=1, flags=re.IGNORECASE)
        if len(parts) != 2 or not re.fullmatch(r"[A-Za-z_]\w*",
                                               parts[0].strip()):
            raise ValueError(f"bad DEFINE entry: {item!r}")
        raw_define[parts[0].strip()] = parts[1].strip()

    streaming = df.isStreaming
    nav: dict[tuple[str, str, int], str] = {}
    if streaming:
        if all_rows:
            raise ValueError(
                "ALL ROWS PER MATCH is batch-only (the expansion joins "
                "back to the input — a stream-stream join the append-mode "
                "matcher output cannot feed)"
            )
        type_col, define, stream_navmap, stream_crossmap, stream_localmap \
            = _lower_stream_define(raw_define)
    else:
        variables = set(raw_define)
        raw_define = {
            v: _lower_define_nav(e, v, variables, nav)
            for v, e in raw_define.items()
        }
        define = {v: F.expr(e) for v, e in raw_define.items()}

    pat = sec["PATTERN"]
    if not (pat.startswith("(") and pat.endswith(")")):
        raise ValueError("PATTERN section must be parenthesised")
    pm = re.fullmatch(
        r"PERMUTE\s*\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)",
        pat[1:-1].strip(), flags=re.IGNORECASE,
    )
    permute_vars: list[str] | None = None
    if pm:
        if streaming:
            raise ValueError(
                "PERMUTE is batch-only (the cross-permutation dedup "
                "needs the full match set per starting row)"
            )
        if all_rows:
            raise ValueError(
                "PERMUTE with ALL ROWS PER MATCH is not supported — "
                "every variable binds one row; read ts_k/id_k directly"
            )
        if "AFTER MATCH" in sec:
            raise ValueError(
                "AFTER MATCH is not composable with PERMUTE (the "
                "lexicographically-first-ordering rule already yields "
                "at most one match per starting row)"
            )
        permute_vars = [v.strip() for v in pm.group(1).split(",")]
        missing = [v for v in permute_vars if v not in define]
        if missing:
            raise ValueError(
                f"PERMUTE variable(s) not in define: {missing}"
            )
        spec = None
    gm = re.fullmatch(
        r"((?:[A-Za-z_]\w*\s+)*?)\(\s*([A-Za-z_]\w*(?:\s+[A-Za-z_]\w*)+)"
        r"\s*\)\s*\{(\d+),(\d+)\}(\?)?"
        r"(?:\s+([A-Za-z_]\w*(?:\s+[A-Za-z_]\w*)*))?",
        pat[1:-1].strip(),
    )
    group_spec: tuple | None = None
    # pop bind BEFORE branching (round-8 ADVICE: with PERMUTE / a
    # quantified group it used to leak through **kwargs into the engine
    # call and fail as an opaque TypeError)
    _UNSET = object()
    user_bind = kwargs.pop("bind", _UNSET)
    if user_bind is not _UNSET:
        if pm is not None or gm is not None:
            raise ValueError(
                "bind= is not applicable to PERMUTE / quantified "
                "sequence group patterns (no loop variables to bind)"
            )
        if all_rows:
            raise ValueError(
                "bind= conflicts with ALL ROWS PER MATCH (the expansion "
                "needs every hop — bind is forced to 'all')"
            )
    if gm:
        # quantified SEQUENCE group as the LONE pattern: (A B){m,n}
        if streaming:
            raise ValueError(
                "quantified sequence groups are batch-only (the "
                "r-variant union needs the full match set per anchor)"
            )
        if all_rows or "AFTER MATCH" in sec or "MEASURES" in sec:
            raise ValueError(
                "a quantified sequence group supports neither MEASURES "
                "nor ALL ROWS nor AFTER MATCH — its output frame already "
                "carries n_reps + first/last_<var>_{ts,id} per variable"
            )
        prefix_vars = gm.group(1).split()
        gvars = gm.group(2).split()
        suffix_vars = (gm.group(6) or "").split()
        missing = [
            v for v in prefix_vars + gvars + suffix_vars
            if v not in define
        ]
        if missing:
            raise ValueError(
                f"group variable(s) not in define: {missing}"
            )
        overlap_s = set(suffix_vars) & set(gvars)
        if overlap_s or len(set(suffix_vars)) != len(suffix_vars):
            raise ValueError(
                "a group closer/suffix variable also appears inside the "
                "group (or repeats) — measures would be ambiguous: "
                f"{sorted(overlap_s) or suffix_vars}"
            )
        overlap = set(prefix_vars) & (set(gvars) | set(suffix_vars))
        if overlap or len(set(prefix_vars)) != len(prefix_vars):
            raise ValueError(
                "a group-prefix variable repeats or also appears inside "
                f"the group/closer — ambiguous: {sorted(overlap) or prefix_vars}"
            )
        group_spec = (prefix_vars, gvars, int(gm.group(3)),
                      int(gm.group(4)), gm.group(5) is None, suffix_vars)
        spec = None
    if pm is None and gm is None:
        bind_val = "all" if all_rows else (
            True if user_bind is _UNSET else user_bind
        )
        spec = compile_pattern(pat[1:-1].strip(), define, bind=bind_val)

    if "WITHIN" in sec:
        if "within" in kwargs:
            raise ValueError("WITHIN given both in the clause and as kwarg")
        w = re.fullmatch(
            r"(?:INTERVAL\s+)?'?(\d+)'?\s+(\w+?)(S?)",
            sec["WITHIN"].strip(), flags=re.IGNORECASE,
        )
        if not w:
            raise ValueError(f"unsupported WITHIN: {sec['WITHIN']!r}")
        kwargs["within"] = f"{w.group(1)} {w.group(2).lower()}"

    varmap: dict[str, tuple[int, bool, str]] = {}
    if permute_vars is not None:
        # PERMUTE binds by ORIGINAL index regardless of the winning
        # ordering — the rename below puts them on ts_k/id_k
        for j, v in enumerate(permute_vars):
            varmap[v] = (j + 1, False, v.lower())
    elif spec is not None:
        for pos0, (variables, name, step) in enumerate(
            zip(spec["step_vars"], spec["step_names"], spec["steps"])
        ):
            is_loop = isinstance(step, LoopStep)
            for v in variables:
                if v in varmap:
                    raise ValueError(
                        f"pattern variable {v} appears in more than one "
                        "element — measures/skip targets would be ambiguous"
                    )
                varmap[v] = (pos0 + 1, is_loop, name)

    # cross-variable DEFINE references (P AS value > V.value): lowered to
    # CrossPred steps now that the pattern parse has fixed positions
    if not streaming and any("__cross__" in e for e in raw_define.values()):
        if pm is not None or gm is not None:
            raise ValueError(
                "cross-variable DEFINE references are not supported with "
                "PERMUTE or quantified sequence group patterns"
            )
        known = set(df.columns) | set(nav.values())
        for v, e in raw_define.items():
            if "__cross__" not in e or v not in varmap:
                continue  # unused defines never reach the engine
            pos_v, is_loop_v, name_v = varmap[v]
            if is_loop_v:
                raise ValueError(
                    f"DEFINE {v} references other pattern variables — "
                    "cross-variable references inside a loop body "
                    "(iterative conditions) are not supported; use "
                    "PREV/NEXT physical navigation instead"
                )
            if name_v != v.lower():
                raise ValueError(
                    f"DEFINE {v}: cross-variable references on an "
                    "alternation branch are not supported"
                )
            cp = _build_cross_pred(e, v, varmap, known, time_col, id_col)
            define[v] = cp
            spec["steps"][pos_v - 1] = cp

    if "AFTER MATCH" in sec:
        am = re.fullmatch(
            r"SKIP\s+(?:PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW"
            r"|TO\s+(FIRST|LAST)\s+(\w+))",
            sec["AFTER MATCH"].strip(), flags=re.IGNORECASE,
        )
        if not am:
            raise ValueError(
                f"unsupported AFTER MATCH: {sec['AFTER MATCH']!r}"
            )
        if am.group(1) is None:
            kwargs["after_match"] = (
                "skip_past_last"
                if "PAST" in sec["AFTER MATCH"].upper()
                else "skip_to_next"
            )
        else:
            var = am.group(2)
            if var not in varmap:
                raise ValueError(f"AFTER MATCH SKIP TO unknown variable "
                                 f"{var!r}")
            kwargs["after_match"] = (
                f"skip_to_{am.group(1).lower()}:{varmap[var][0]}"
            )

    # SUBSET union variables (SUBSET W = (D, U)): pure measure-rewrite
    # vocabulary — no engine involvement.
    subsets: dict[str, list[str]] = {}
    if "SUBSET" in sec:
        for item in _split_top(sec["SUBSET"]):
            sm = re.fullmatch(
                r"([A-Za-z_]\w*)\s*=\s*\(\s*([A-Za-z_]\w*"
                r"(?:\s*,\s*[A-Za-z_]\w*)*)\s*\)", item.strip(),
            )
            if not sm:
                raise ValueError(f"bad SUBSET entry: {item!r}")
            w = sm.group(1)
            comps = [c.strip() for c in sm.group(2).split(",")]
            if w in varmap or w in subsets:
                raise ValueError(f"SUBSET name {w!r} is already a variable")
            missing = [c for c in comps if c not in varmap]
            if missing:
                raise ValueError(
                    f"SUBSET {w} references unknown variable(s) {missing}"
                )
            subsets[w] = comps

    # Parse MEASURES before matching: payload references (source columns
    # beyond time/id) may force loop binds up to "all" (recompile) and
    # schedule post-hoc join-backs against the source.
    measures = None
    payload: dict | None = None
    if "MEASURES" in sec:
        payload = None if all_rows else {"row": {}, "loop": {}, "bind": {}}
        measures = []
        for item in _split_top(sec["MEASURES"]):
            parts = re.split(r"\s+AS\s+", item, maxsplit=1,
                             flags=re.IGNORECASE)
            if len(parts) != 2 or not re.fullmatch(r"[A-Za-z_]\w*",
                                                   parts[1].strip()):
                raise ValueError(f"bad MEASURES entry: {item!r}")
            mexpr = parts[0].strip()
            kw = re.match(r"(RUNNING|FINAL)\s+", mexpr, flags=re.IGNORECASE)
            # ONE ROW PER MATCH evaluates every measure at the final row:
            # RUNNING == FINAL there (ISO 9075-2), both no-ops. Under
            # ALL ROWS the prefix picks the window frame; the mode's
            # default is RUNNING, per the standard.
            running = True
            if kw:
                running = kw.group(1).upper() == "RUNNING"
                mexpr = mexpr[kw.end():]
            measures.append((
                _rewrite_measure(mexpr, varmap, time_col,
                                 id_col, all_rows, payload,
                                 subsets or None, key_cols, running),
                parts[1].strip(),
            ))
    has_payload = bool(payload and (payload["row"] or payload["loop"]))
    if (has_payload and streaming and not defer_measures
            and _apply_to is None):
        raise ValueError(
            "payload measures (source columns beyond the time/id pair) "
            "are not expressible on a live stream — an id equi-join back "
            "to the stream has no time bound append mode can close. Run "
            "the SAME clause with defer_measures=True (matches only, loop "
            "binds auto-upgraded) and apply apply_clause_measures(sink_df, "
            "events, clause) post-sink or inside foreachBatch."
        )
    if defer_measures:
        if all_rows:
            raise ValueError(
                "defer_measures applies to ONE ROW PER MATCH only (the "
                "ALL ROWS expansion is itself batch-only)"
            )
        # the stream run must still BIND what the deferred measures will
        # join back on — keep the bind upgrade below, drop the measures
        measures = None
    if payload and payload["bind"]:
        # upgrade loop binds the payload measures need (first/last hop
        # joins need bind>=True; hop aggregates need the full id array)
        merged: dict[str, object] = {}
        for step, name in zip(spec["steps"], spec["step_names"]):
            if not isinstance(step, LoopStep):
                continue
            req = payload["bind"].get(name)
            if req == "all" or step.bind == "all":
                merged[name] = "all"
            else:
                merged[name] = step.bind or req or False
        if any(
            isinstance(s, LoopStep) and s.bind != merged[n]
            for s, n in zip(spec["steps"], spec["step_names"])
        ):
            spec = compile_pattern(pat[1:-1].strip(), define, bind=merged)

    if _apply_to is not None:
        # apply_clause_measures mode: df is a BATCH view of the events
        # source, _apply_to the already-matched frame (a sink read or a
        # foreachBatch micro-batch of the deferred stream clause) — skip
        # matching, run only the measures application below
        if streaming:
            raise ValueError(
                "apply_clause_measures needs a BATCH events frame — read "
                "the source (or use the foreachBatch micro-batch), not "
                "the live stream"
            )
        if all_rows:
            raise ValueError(
                "apply_clause_measures applies ONE ROW PER MATCH "
                "measures — ALL ROWS expansion runs the batch clause "
                "directly"
            )
        if pm is not None or gm is not None or measures is None:
            raise ValueError(
                "apply_clause_measures needs a MEASURES section on a "
                "plain (non-PERMUTE, non-group) pattern"
            )
        # the matcher did not run here — verify the match frame carries
        # what the deferred measures join back on, with targeted errors
        need: list[str] = []
        if payload:
            for name in {n for (n, _, _) in payload["loop"]}:
                need.append(f"{name}_ids")
            for (mid, _), _gen in payload["row"].items():
                need.append(mid)
        missing = sorted(
            {c for c in need if c not in _apply_to.columns}
        )
        if missing:
            raise ValueError(
                f"match frame is missing {missing} — run the stream "
                "clause with defer_measures=True (it auto-upgrades loop "
                "binds) or set bind='all' on the loops these measures "
                "aggregate"
            )
        matched = _apply_to
    elif streaming:
        if len(key_cols) != 1:
            raise ValueError(
                "streaming MATCH_RECOGNIZE takes exactly one PARTITION BY "
                f"column — got {key_cols}"
            )
        for step in spec["steps"]:
            vals = step.value if isinstance(step, LoopStep) else step
            if isinstance(vals, tuple) and any(
                isinstance(v, tuple) for v in vals
            ):
                raise ValueError(
                    "an IN-defined variable cannot sit inside an "
                    "alternation group on the stream path (nested branch "
                    "indices would be ambiguous) — fold the literals into "
                    "one IN list on a single variable"
                )
        if (
            len(spec["steps"]) == 1
            and not isinstance(spec["steps"][0], LoopStep)
            and not spec["optional_steps"]
            and not kwargs
            and not stream_navmap
            and not stream_crossmap
        ):
            # one-variable pattern: stateless row classification — a
            # plain filter works identically on a stream (same shortcut
            # as the batch branch below; a nav DEFINE needs the buffered
            # engine's event-time-ordered history, so it never shortcuts;
            # row-local CONSTANT comparisons are stateless too and fold
            # straight into the filter)
            val = spec["steps"][0]
            if val == "*":
                cond = F.lit(True)  # type-free: local conds only
            else:
                cond = (
                    F.col(type_col).isin(*val) if isinstance(val, tuple)
                    else F.col(type_col) == val
                )
            svars = spec["step_vars"][0]
            if len(svars) > 1 and any(v1 in stream_localmap for v1 in svars):
                raise ValueError(
                    "a constant comparison on an alternation branch is "
                    "not supported (it would gate every branch)"
                )
            for v1 in svars:
                for col, cmp_, cst in stream_localmap.get(v1, []):
                    rhs = cst if isinstance(cst, str) else repr(cst)
                    cond = cond & F.expr(f"{col} {cmp_} {rhs}")
            cols = [
                F.col(time_col).alias("ts_1"), F.col(id_col).alias("id_1"),
            ]
            if isinstance(val, tuple):
                branch = F.lit(None).cast("int")
                for k in range(len(val) - 1, -1, -1):
                    branch = F.when(
                        F.col(type_col) == val[k], F.lit(k)
                    ).otherwise(branch)
                cols.append(branch.alias("branch_1"))
            matched = (
                df.where(
                    F.col(time_col).isNotNull() & F.col(id_col).isNotNull()
                )
                .filter(cond)
                .select(*key_cols, *cols)
            )
        else:
            # each kind's DEFINE conditions keyed by step position; a
            # cross condition's referenced variable becomes its position
            by_pos: dict[str, dict[int, list]] = {}
            for kind, vmap, what in (
                ("nav", stream_navmap, "PREV navigation"),
                ("local", stream_localmap, "a constant comparison"),
                ("cross", stream_crossmap, "a cross-variable reference"),
            ):
                out = by_pos.setdefault(kind, {})
                for v, conds in vmap.items():
                    if v not in varmap:
                        continue  # defined but unused in the pattern
                    pos_v, _is_loop_v, name_v = varmap[v]
                    if name_v != v.lower():
                        raise ValueError(
                            f"streaming DEFINE {v}: {what} on an "
                            "alternation branch is not supported"
                        )
                    for c in conds:
                        if kind == "cross":
                            ref_v = c[2]
                            if ref_v not in varmap:
                                raise ValueError(
                                    f"streaming DEFINE {v}: referenced "
                                    f"variable {ref_v} does not appear in "
                                    "the pattern"
                                )
                            ref_pos, _ref_is_loop, ref_name = varmap[ref_v]
                            if ref_name != ref_v.lower():
                                raise ValueError(
                                    f"streaming DEFINE {v}: referencing an "
                                    f"alternation-branch variable {ref_v} "
                                    "is not supported (the branch may not "
                                    "have bound)"
                                )
                            c = (c[0], c[1], ref_pos, c[3])
                        out.setdefault(pos_v, []).append(c)
            matched = match_sequence_stream(
                df,
                spec["steps"],
                key_col=key_cols[0],
                # every variable type-free (pure nav DEFINEs): the vocab
                # is empty and the type column is never consulted — any
                # existing column satisfies the tuple extraction
                type_col=type_col if type_col is not None else id_col,
                time_col=time_col,
                id_col=id_col,
                optional_steps=spec["optional_steps"],
                strict_steps=spec["strict_steps"],
                nav_conds=by_pos["nav"] or None,
                cross_conds=by_pos["cross"] or None,
                local_conds=by_pos["local"] or None,
                **kwargs,
            )
    else:
        mdf = df
        if nav:
            from pyspark.sql.window import Window

            # one shared window spec -> ALL navigation columns come out
            # of a single Window exec (one shuffle on the partition key)
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(time_col).asc(), F.col(id_col).asc()
            )
            for (kind, inner, n), gen in nav.items():
                fn = F.lag if kind == "prev" else F.lead
                mdf = mdf.withColumn(gen, fn(F.expr(inner), n).over(w))
        if group_spec is not None:
            from .cep import match_repeated_group

            pvars, gvars, min_r, max_r, greedy, svars = group_spec
            one_suf = len(svars) == 1
            matched = match_repeated_group(
                mdf, [define[v] for v in gvars], key_cols,
                min_r, max_r, time_col=time_col, id_col=id_col,
                greedy=greedy,
                var_names=[v.lower() for v in gvars],
                # a single trailing variable keeps the closer_ts/id
                # output contract; several emit <name>_ts/id each
                closer=define[svars[0]] if one_suf else None,
                suffix=(
                    [define[v] for v in svars] if len(svars) > 1 else None
                ),
                suffix_names=(
                    [v.lower() for v in svars] if len(svars) > 1 else None
                ),
                prefix=[define[v] for v in pvars] or None,
                **kwargs,
            )
        elif permute_vars is not None:
            k = len(permute_vars)
            matched = match_permutation(
                mdf, [define[v] for v in permute_vars], key_cols,
                time_col=time_col, id_col=id_col, **kwargs,
            ).select(
                *key_cols, "perm_idx",
                *[c for j in range(1, k + 1)
                  for c in (F.col(f"ts_s{j}").alias(f"ts_{j}"),
                            F.col(f"id_s{j}").alias(f"id_{j}"))],
            )
        elif (
            len(spec["steps"]) == 1
            and not isinstance(spec["steps"][0], LoopStep)
            and not spec["optional_steps"]
            and not kwargs
        ):
            # a one-variable pattern is pure row classification — a
            # filter, no sequence joins (the engine needs >=2 steps);
            # single-row matches cannot overlap, so every AFTER MATCH
            # strategy degenerates to the same set
            pred = spec["steps"][0]
            cols = [
                F.col(time_col).alias("ts_1"), F.col(id_col).alias("id_1"),
            ]
            if isinstance(pred, list):
                branch = F.lit(None).cast("int")
                for k in range(len(pred) - 1, -1, -1):
                    branch = F.when(pred[k], F.lit(k)).otherwise(branch)
                ored = pred[0]
                for p in pred[1:]:
                    ored = ored | p
                pred = ored
                cols.append(branch.alias("branch_1"))
            matched = (
                mdf.where(
                    F.col(time_col).isNotNull() & F.col(id_col).isNotNull()
                )
                .filter(pred)
                .select(*key_cols, *cols)
            )
        else:
            matched = match_sequence(
                mdf,
                spec["steps"],
                key_cols,
                time_col=time_col,
                id_col=id_col,
                optional_steps=spec["optional_steps"],
                strict_steps=spec["strict_steps"],
                **kwargs,
            )

    if not all_rows:
        if measures is None:
            return matched
        if has_payload:
            from rtfproc_spark.operators.measures import (
                attach_row_payload, loop_measures,
            )

            if payload["row"]:
                matched = attach_row_payload(
                    matched, df,
                    [(mid, src, gen)
                     for (mid, src), gen in payload["row"].items()],
                    id_col=id_col,
                )
            by_loop: dict[str, dict] = {}
            for (name, agg, col), gen in payload["loop"].items():
                by_loop.setdefault(name, {})[gen] = (agg, col)
            for name, aggs in by_loop.items():
                # ANCHOR-position loops fold ts_1/id_1 into the loop's
                # first_* measures — the anchor hop id IS the match
                # identity there (one match per anchor event)
                anchor = (
                    "id_1" if "id_1" in matched.columns
                    else f"first_{name}_id"
                )
                matched = loop_measures(
                    matched, df, name, aggs, key_cols, id_col=id_col,
                    anchor_col=anchor,
                )
        return matched.selectExpr(
            *key_cols, *(f"({e}) AS {n}" for e, n in measures)
        )
    expanded = all_rows_per_match(
        matched, df, spec["steps"], key_cols,
        time_col=time_col, id_col=id_col,
        step_names=spec["step_names"],
    )
    if measures is not None:
        # measures FIRST: running/final window aggregates are computed
        # over the full match — including rows a {- X -} exclusion is
        # about to omit (the standard's evaluation order)
        expanded = expanded.selectExpr(
            "*", *(f"({e}) AS {n}" for e, n in measures)
        )
    if spec["excluded_steps"]:
        # {- X -}: matching already happened on the full pattern — the
        # exclusion only omits the bound rows from the per-event output
        expanded = expanded.filter(
            ~F.col("classifier").isin(
                [spec["step_names"][p - 1]
                 for p in spec["excluded_steps"]]
            )
        )
    return expanded


def apply_clause_measures(
    matches: DataFrame,
    events: DataFrame,
    clause: str,
    id_col: str = "event_id",
    **kwargs,
) -> DataFrame:
    """Apply a MATCH_RECOGNIZE clause's MEASURES (including payload
    references — ``P.value``, ``SUM(S.value)``) to an ALREADY-MATCHED
    frame: the in-``foreachBatch`` / post-sink companion of running the
    same clause on a stream with ``defer_measures=True``.

    A live stream cannot serve payload measures (the id equi-join back
    to the stream has no time bound append mode can close), so the
    streaming recipe is::

        out = match_recognize_sql(stream, CLAUSE, defer_measures=True)
        ... writeStream out to a sink (loop binds are auto-upgraded
            to what the deferred measures need) ...
        final = apply_clause_measures(read_sink(...), events_batch,
                                      CLAUSE)

    ``events`` must be a BATCH frame of the same source (the sink's
    micro-batch inside ``foreachBatch``, or a batch read after the run).
    One clause string serves both halves — the former footgun was
    hand-stripping MEASURES for the stream run and hand-building the
    ``attach_row_payload`` / ``loop_measures`` calls. Equality with the
    one-shot batch clause is pinned in tests."""
    return match_recognize_sql(
        events, clause, id_col=id_col, _apply_to=matches, **kwargs
    )
