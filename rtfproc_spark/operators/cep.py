"""Declarative CEP sequence matching (north-rule CEP surface, beyond the
windows/joins/tracker set): detect ordered event patterns per key within a
time bound — the funnel/sequence primitive of a complex-event engine
(MATCH_RECOGNIZE / Flink CEP's `next`/`followedBy` in DataFrame algebra).

Semantics (deterministic, SQL-oracle-able):

- every event matching step 1 anchors a potential match (overlapping
  anchors allowed under the default ``skip_to_next`` strategy — each is
  reported independently; ``after_match="skip_past_last"`` keeps greedy
  non-overlapping matches instead);
- step k matches the EARLIEST event satisfying its predicate strictly
  after step k-1's match and no later than ``within`` of the ANCHOR
  (first-match-after, ties broken by the id column — CEP "skip to next");
- a row is emitted only for anchors whose every step completes;
- negation (``forbid``), per-transition gaps (``step_within``), optional
  steps (``A B? C``), bounded-loop counts (:class:`CountBetween`),
  sequence-advancing Kleene loops (:class:`LoopStep` — ``A B+ C`` where
  the closer anchors after the loop, or FINAL-position ``A B+`` closed
  by the anchor horizon / session bound) and session-gap bounding
  (:func:`match_sequence_sessionized`) extend the base pattern; every
  option has a streaming twin with pinned stream==batch equality.

Scale shape: one shuffle per step on (key + anchor), join then
min(struct(ts, id)) aggregation — no window over a whole key's history, no
Python. Hot keys bound candidate fan-out by events-per-key-per-window,
the same bound any stream-stream interval join carries; salt via
operators.skew if a key is truly degenerate.
"""

from __future__ import annotations

import operator
import re
import struct
from dataclasses import dataclass, replace as _dc_replace
from functools import reduce
from itertools import starmap

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


@dataclass(frozen=True)
class CountBetween:
    """Count quantifier: the number of events satisfying the predicate
    strictly between matched step ``lo_step`` and matched step ``hi_step``
    (open interval on both ends) must fall in ``[min_n, max_n]`` — the
    declarative form of a bounded loop (``B{m,n}`` between two pattern
    symbols; ``min_n=0, max_n=0`` is negation scoped to that gap). The
    count is emitted as output column ``n_<name>``.

    ``bind=True`` upgrades the count to a BINDING loop — MATCH_RECOGNIZE's
    ``B+``/``B{m,n}`` with measures: the loop's matched events are
    recorded, emitted as ``first_<name>_ts``/``first_<name>_id`` and
    ``last_<name>_ts``/``last_<name>_id`` (null when the loop matched zero
    events), i.e. the ``FIRST(B.ts)``/``LAST(B.id)`` measures. The loop
    body is every qualifying event in the open interval (greedy — the
    count constraint already fixes the membership), so binding adds only
    min/max aggregates to the batch plan; the stream twin records the hop
    list per counter in its state.

    ``bind="all"`` additionally emits ``<name>_ids`` — EVERY loop hop's id
    in (ts, id) order (the per-row ``B.*`` measures surface; an empty
    array when the loop matched nothing). Batch pays one
    sort_array(collect_list) on the already-joined range rows; the stream
    twin reads the same ids off its counter hop list. Prefer first/last
    when they suffice — the array's width is the loop length.

    ``pred`` is the batch-side predicate; ``value`` is the stream twin's
    literal ``type_col`` value (state must be serializable, predicates are
    not — same split as steps vs step_values)."""

    pred: Column | None = None
    value: str | None = None
    lo_step: int = 1
    hi_step: int = 2
    min_n: int = 0
    max_n: int | None = None
    name: str = "x"
    bind: bool | str = False


@dataclass(frozen=True)
class LoopStep:
    """Kleene loop as a PATTERN STEP — MATCH_RECOGNIZE's ``A B+ C`` /
    Flink's ``oneOrMore()``, where the loop ADVANCES the sequence position:
    the following step (the CLOSER) anchors after the loop's last matched
    event, unlike :class:`CountBetween` which only counts between two
    already-matched fixed steps. Place a ``LoopStep`` between two steps:
    ``[A, LoopStep(pred=B), C]`` is ``A B+ C``; ``min_n``/``max_n`` give
    ``B{m,n}`` (``min_n=0`` is ``B*``).

    Deterministic greedy no-lookahead semantics (shared batch/stream, the
    skip-to-next discipline of the rest of this module):

    - after the step before the loop matches at time ``p``, events
      matching ``pred`` accumulate as loop hops (strictly after ``p``, in
      (ts, id) order, stopping at ``max_n`` — excess loop events are
      ignored, they neither extend nor poison);
    - the loop closes at the EARLIEST closer-matching event ``c`` (strictly
      after ``p``, within the anchor horizon) whose open interval
      ``(p, c)`` holds at least ``min_n`` loop events; a closer candidate
      seen while the count is still short is IGNORED (no backtracking —
      the loop keeps accumulating);
    - an event matching BOTH the loop and the closer closes the match when
      the count (excluding same-timestamp hops — open-interval boundary)
      is already sufficient, else it is consumed as a loop hop.  That is
      the RELUCTANT (lazy, ``B+?``) quantifier — the loop closes as early
      as it can.  ``greedy=True`` flips the priority to MATCH_RECOGNIZE's
      default munch: a dual-matching event is consumed as a HOP until the
      loop's ``max_n`` cap is reached (with ``max_n=None`` it can never
      close the loop — only a non-body closer event can), so the loop
      takes as many rows as arrive.  No backtracking either way
      (possessive in regex terms, the engine-wide no-lookahead
      discipline): a greedy loop can consume an event a backtracking
      matcher would have given to the closer and then fail at the
      horizon where SQL MATCH_RECOGNIZE would backtrack and match —
      greedy-vs-reluctant only changes behavior when the loop body and
      the closer overlap.

    Output: ``n_<name>`` (the emitted count, capped at ``max_n``), and
    with ``bind=True`` (default) the ``first_<name>_ts/id`` /
    ``last_<name>_ts/id`` measures; ``bind="all"`` adds ``<name>_ids``
    (every bound hop id, in order). The loop step itself emits no
    ``ts_k``/``id_k`` — the closer's columns mark where the sequence
    resumed.

    A LoopStep may also sit in FINAL position (``A B+`` — no closer):
    the loop then closes at the ANCHOR HORIZON (``ts_1 + within``) —
    or at the session bound under :func:`match_sequence_sessionized` /
    ``session_gap=``, whose inert ``within`` makes the horizon the
    session's end: "anchor, then every B until the session closes".
    Hops accumulate in ``(prev_ts, ts_1 + within]`` and the match emits
    iff at least ``min_n`` (>= 1 required — 0 would emit a vacuous match
    per completed prefix) accrued; measures cap at ``max_n`` as usual.
    Because emission is deadline-driven, the stream twin requires
    ``ordered=False`` (watermark finality), and ``forbid`` /
    ``after_match="skip_past_last"`` are rejected (both need the final
    matched row, which a final loop does not emit).

    A LoopStep may also sit in ANCHOR position (``A+ B …`` — Flink's
    ``begin().oneOrMore()``): every event matching the loop anchors its
    own potential match (per-row skip-to-next, exactly MATCH_RECOGNIZE's
    overlapping-match discipline), the anchor counts as the FIRST hop,
    and the closer fires at the earliest candidate whose total hop count
    reaches ``min_n``.  Internally this desugars to
    ``A (A){min_n-1, max_n-1} B …`` — a plain anchor plus a middle loop —
    so batch, stream, sessionized and session-gap modes all inherit it;
    measures fold the anchor back in (``n`` includes it,
    ``first_<name>_*`` IS it, ``<name>_ids`` leads with it) and the
    emitted ``ts_k``/``id_k`` positions match the pattern as written
    (the loop emits none; the closer is ``ts_2``).  A pattern that is
    ONLY a loop (``A{m,}``, horizon/session-closed) needs ``min_n >= 2``
    and bind measures.  ``A* B`` (``min_n=0``) cannot anchor — something
    must start the match.  CountBetween indices keep referring to the
    pattern as written.

    Constraints (raise; ``_check_pattern`` runs them for both twins): a
    loop cannot be followed by another loop or an optional step, cannot
    itself be optional, cannot combine with ``step_within``, ``max_n``
    cannot undercut ``min_n``, and :class:`CountBetween` cannot anchor on
    a loop position.

    ``pred`` is the batch predicate — a single Column, or a list/tuple
    of Columns OR'd together (the loop-body alternation ``(B|C)+``,
    matching the stream twin's tuple ``value``; hops record no branch,
    so the disjunction is the whole story); ``value`` is the stream
    twin's literal ``type_col`` value (or tuple of values)."""

    pred: Column | None = None
    value: str | tuple | None = None
    min_n: int = 1
    max_n: int | None = None
    name: str = "loop"
    bind: bool | str = True
    greedy: bool = False


@dataclass(frozen=True)
class CrossPred:
    """A step predicate that references PRIOR bound variables' payload —
    MATCH_RECOGNIZE's cross-variable DEFINE (``P AS price > A.price``,
    Flink's IterativeCondition over already-bound rows).

    ``pred`` is a boolean Column evaluated over the JOIN of the candidate
    event with the partial match: the candidate's own payload columns
    appear as ``_ev_<col>``, the payload captured from the step bound at
    1-based position ``j`` as ``_def_<j>_<col>``, and the prior steps'
    time/id columns directly as ``ts_<j>`` / ``id_<j>``. ``needs`` lists
    the ``(j, col)`` payload captures the predicate reads (time/id need
    no capture — they are already on the partial frame); ``ev_cols`` the
    candidate's own payload columns it reads; ``local`` an optional plain
    pre-filter over raw rows (the part of the DEFINE that references no
    other variable) — pushed into the candidate scan so the join input
    stays small.

    Semantics: the step binds the EARLIEST candidate satisfying
    ``local AND pred`` — evaluated PER CANDIDATE at join time, so an
    event failing the cross-variable comparison is skipped and the next
    event tried, exactly the sequential matcher's rule (post-filtering
    completed matches would instead kill the whole match). This CLASS is
    batch-only (``pred`` is a JVM Column); the stream twin is
    :func:`match_sequence_stream`'s ``cross_conds=`` — serializable
    ``(ev_col, cmp, ref_step, ref_col)`` comparisons whose captured
    values ride CEP state. Both twins run one cross-reference check,
    ``_check_cross_refs``: the anchor, an optional step and an optional's
    closer cannot be CrossPred, and a referenced step must be bound
    BEFORE this one as a required single-row step — not a loop, not an
    optional and not an optional's closer.
    Physically: the capture rides the earlier step's existing
    ``min(struct)`` aggregate (extra struct fields, no new shuffle), and
    the cross comparison joins with the step's existing candidate join
    (no new join) — only the candidate scan loses the full predicate
    pushdown (it keeps ``local``)."""

    pred: Column
    needs: tuple = ()
    ev_cols: tuple = ()
    local: Column | None = None


def _is_alt(spec) -> bool:
    """True when a step spec is an alternation ``(B|C)`` — a sequence of
    predicate Columns instead of a single Column."""
    return not isinstance(spec, (Column, LoopStep, CrossPred))


def _loop_pred(sp: LoopStep) -> Column:
    """The loop body's row filter: a single Column, or an OR over a
    list/tuple of Columns — the batch twin of the stream's tuple
    ``value``.  A loop records no branch per hop, so alternation inside
    a loop body is just a disjunction."""
    if isinstance(sp.pred, Column):
        return sp.pred
    return reduce(lambda a, b: a | b, sp.pred)


def _valid_loop_pred(p) -> bool:
    return isinstance(p, Column) or (
        isinstance(p, (list, tuple))
        and len(p) > 0
        and all(isinstance(x, Column) for x in p)
    )


def _parse_after_match(after_match: str, k_total: int) -> tuple[str, int | None]:
    """Parse the AFTER MATCH SKIP strategy into ``(mode, target)``:
    ``("next", None)``, ``("past_last", None)``, or ``("first"|"last",
    pos)`` for ``"skip_to_first:<pos>"`` / ``"skip_to_last:<pos>"`` —
    MATCH_RECOGNIZE's ``AFTER MATCH SKIP TO FIRST|LAST <var>`` addressed
    by 1-based step POSITION (the same addressing as ``strict_steps`` /
    ``optional_steps``).  The skip-to target must be a step 2..k: the SQL
    spec makes skipping to the match's first row a runtime error (the
    engine would re-find the same match forever), so we reject it
    statically."""
    if after_match == "skip_to_next":
        return ("next", None)
    if after_match == "skip_past_last":
        return ("past_last", None)
    m = re.fullmatch(r"skip_to_(first|last):([0-9]+)", after_match)
    if not m:
        raise ValueError(f"unknown after_match: {after_match!r}")
    pos = int(m.group(2))
    if not (1 <= pos <= k_total):
        raise ValueError(
            f"after_match {after_match!r}: skip target out of range — the "
            f"pattern has steps 1..{k_total}"
        )
    return (m.group(1), pos)


def _check_pattern(k, loops, opt, strict, step_within, forbid, after_match, counts):
    """The pattern-shape rules both twins share, run on the pattern as it
    stands after the anchor-loop desugar (position 1 is never a loop
    here).  ``loops`` maps each 1-based loop position to its
    :class:`LoopStep`; ``opt`` and ``strict`` are 1-based position sets;
    ``forbid`` says whether a negation is set.  Returns the parsed
    ``(skip_mode, skip_target)``; a violation raises ``ValueError``."""
    skip_mode, skip_target = _parse_after_match(after_match, k)
    if opt:
        bad = sorted(j for j in opt if not 1 <= j <= k)
        if bad:
            raise ValueError(
                f"optional step(s) {bad} out of range — the pattern has "
                f"steps 1..{k}"
            )
        if step_within is not None:
            raise ValueError("optional_steps cannot be combined with step_within")
        if 1 in opt or k in opt:
            raise ValueError("the anchor and the final step cannot be optional")
        if any(j + 1 in opt for j in opt):
            raise ValueError("two consecutive steps cannot both be optional")
    if loops and step_within is not None:
        raise ValueError("LoopStep cannot be combined with step_within")
    if k in loops:
        # FINAL-position loop: A B+ closed by the anchor horizon (or the
        # session bound) instead of a closer event
        if loops[k].min_n < 1:
            raise ValueError(
                "a FINAL LoopStep needs min_n >= 1 (min_n=0 would emit a "
                "vacuous match for every completed prefix)"
            )
        if loops[k].greedy:
            raise ValueError(
                "greedy has no effect on a FINAL LoopStep (there is no "
                "closer to munch past) — drop greedy=True"
            )
        if forbid:
            raise ValueError(
                "forbid cannot be combined with a FINAL LoopStep (the "
                "negation interval's right edge is the final matched "
                "step, which a final loop does not emit)"
            )
        if skip_mode != "next":
            raise ValueError(
                "a non-default after_match cannot be combined with a "
                "FINAL LoopStep (the skip point references matched "
                "rows a deadline-closed loop does not pin down)"
            )
    if any(p + 1 in loops for p in loops):
        raise ValueError("two consecutive steps cannot both be loops")
    if any(p in opt or p + 1 in opt for p in loops):
        raise ValueError(
            "a loop step cannot be optional and its closer (the step "
            "after it) must be a required non-loop step"
        )
    if any(j + 1 in loops for j in opt):
        # the optional's closer is consumed jointly with it
        raise ValueError("an optional step's closer cannot be a loop")
    for p, sp in sorted(loops.items()):
        _check_loop_bounds(p, sp)
    for s in sorted(strict):
        if not (2 <= s <= k):
            raise ValueError(
                f"strict step {s} out of range (the anchor cannot be "
                "strict — nothing precedes it)"
            )
        if s in loops or s in opt:
            raise ValueError(
                f"strict step {s}: a loop or optional step cannot be "
                "strict (its match is not a single next event)"
            )
        if (s - 1) in loops or (s - 1) in opt:
            raise ValueError(
                f"strict step {s}: the step after a loop or an optional "
                "cannot be strict (the previous matched row is not a "
                "single fixed event)"
            )
    if skip_mode in ("first", "last"):
        # the skip-to target must be MAPPED in every match; a loop target
        # is read from its first/last bound hop
        if skip_target == 1:
            raise ValueError(
                "skip_to target position 1 is the match's first row — "
                "skipping to it would re-find the same match forever, "
                "MATCH_RECOGNIZE's runtime-error case"
            )
        if skip_target in opt:
            raise ValueError(
                f"skip_to target step {skip_target} is optional: a skipped "
                "optional leaves the skip variable unmapped (the "
                "MATCH_RECOGNIZE error case) — target a required step"
            )
        if skip_target in loops and not loops[skip_target].bind:
            raise ValueError(
                f"skip_to target step {skip_target} is a LoopStep without "
                "bind measures: the skip point is the loop's "
                f"{skip_mode} bound row — set bind=True on the loop"
            )
        if skip_target in loops and loops[skip_target].min_n < 1:
            raise ValueError(
                f"skip_to target step {skip_target} is a LoopStep with "
                "min_n=0: a zero-hop loop leaves the skip variable "
                "unmapped — require min_n >= 1"
            )
    for spec in counts or ():
        if not (1 <= spec.lo_step < spec.hi_step <= k):
            raise ValueError(f"CountBetween steps out of range: {spec}")
        if spec.lo_step in opt or spec.hi_step in opt:
            raise ValueError("CountBetween must anchor on non-optional steps")
        if spec.lo_step in loops or spec.hi_step in loops:
            raise ValueError(
                "CountBetween must anchor on matched non-loop steps (loop "
                "steps emit no ts_k)"
            )
    return skip_mode, skip_target


def _check_loop_bounds(p: int, sp: LoopStep) -> None:
    """The stream twin caps hop ACCUMULATION at max_n, so a min_n above
    it could never be met there while the batch count (uncapped) could —
    reject the vacuous spec instead."""
    if sp.max_n is not None and sp.max_n < sp.min_n:
        raise ValueError(
            f"step {p}: LoopStep max_n ({sp.max_n}) < min_n ({sp.min_n})"
        )


def _check_cross_refs(refs: dict, loops, opt) -> None:
    """The cross-reference rules both twins share: batch :class:`CrossPred`
    steps and the stream's ``cross_conds``.  ``refs`` maps each
    conditioned 1-based position to the positions its condition reads;
    ``loops`` and ``opt`` hold the loop and optional positions.  The
    anchor cannot carry a cross condition, nor can a loop body, an
    optional or an optional's closer; a referenced step must be bound
    strictly before, and must be a required single-row step: neither a
    loop nor an optional or its closer.  A violation raises
    ``ValueError``."""
    for p, js in sorted(refs.items()):
        if p == 1:
            raise ValueError(
                "a cross condition on step 1 is out of range: the anchor "
                "cannot be a CrossPred or carry cross_conds — no prior "
                "step exists to reference"
            )
        if p in loops:
            raise ValueError(
                f"step {p} is a loop body — iterative self-conditions are "
                "not supported; the loop's closer may carry a cross "
                "condition"
            )
        if p in opt or p - 1 in opt:
            raise ValueError(
                f"step {p} is optional or the closer of an optional — the "
                "no-lookahead optional decision has no per-candidate cross "
                "evaluation"
            )
        for j in sorted(js):
            if not 1 <= j < p:
                raise ValueError(
                    f"step {p}: referenced step {j} is not a PRIOR step — "
                    f"it must be bound strictly before step {p}"
                )
            if j in loops:
                raise ValueError(
                    f"step {p}: referenced step {j} is a Kleene loop, but "
                    "a cross reference needs a required non-loop step (a "
                    "loop binds no single row — reference its closer)"
                )
            if j in opt or j - 1 in opt:
                raise ValueError(
                    f"step {p}: referenced step {j} is optional or an "
                    "optional's closer, but a cross reference needs a step "
                    "not adjacent to an optional (it may bind nothing)"
                )


def _out_columns(keys, k, loops, alt, counts, session):
    """The output columns of a match, in order, as ``(name, ddl type,
    pandas conversion)``: the key(s), ``session_id`` when ``session``,
    then per position ``ts_k``/``id_k`` (plus ``branch_k`` where
    ``alt[k - 1]``) or a loop's measures, then the CountBetween measures.
    Types are recorded where each column is conceived, never inferred
    back from name suffixes (a CountBetween named "err_ts" yields a LONG
    ``n_err_ts``).  Conversions: ts -> datetime, id/branch -> nullable
    ints (skipped optionals emit nulls), counts / session ordinal / key
    -> none.  Duplicate names raise: they would otherwise surface as an
    ambiguous-reference error deep inside the plan."""

    def measures(sp):
        n = sp.name
        out = [(f"n_{n}", "long", None)]
        if sp.bind:
            out += [
                (f"first_{n}_ts", "timestamp", "datetime"),
                (f"first_{n}_id", "long", "Int64"),
                (f"last_{n}_ts", "timestamp", "datetime"),
                (f"last_{n}_id", "long", "Int64"),
            ]
            if sp.bind == "all":
                out.append((f"{n}_ids", "array<long>", None))
        return out

    cols = [(c, "long", None) for c in keys]
    if session:
        cols.append(("session_id", "long", None))
    for i in range(1, k + 1):
        if i in loops:
            cols += measures(loops[i])
            continue
        cols += [(f"ts_{i}", "timestamp", "datetime"), (f"id_{i}", "long", "Int64")]
        if alt[i - 1]:
            cols.append((f"branch_{i}", "int", "Int32"))
    for spec in counts or ():
        cols += measures(spec)
    names = [n for n, _, _ in cols]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        raise ValueError(
            f"duplicate output column name(s) {dupes}: LoopStep/CountBetween "
            "names must be distinct and must not collide with the "
            "ts_k/id_k/branch_k/session_id pattern columns or the key"
        )
    return cols


def _shift_pos(p: int) -> int:
    """A 1-based position of the pattern as written, in the anchor-loop
    desugar ``A+ B …`` -> ``A (A)* B …``: the inner loop is inserted at
    position 2, so every position from 2 on moves up by one."""
    return p + 1 if p >= 2 else p


def _anchor_loop_args(steps, optional_steps, strict, counts, after_match):
    """The anchor-loop desugar both twins share (``A+ B …`` / Flink's
    ``begin().oneOrMore()``): returns the inner loop of ``A (A){min_n-1,
    max_n-1} B …`` and the position-bearing keyword arguments remapped
    onto the desugared pattern.  The match's first hop becomes the
    anchor step, the remaining hops a middle (or, for a pattern that is
    ONLY a loop, final) LoopStep.  The identity behind the rewrite: the
    earliest closer whose open interval after the anchor holds
    ``>= min_n - 1`` further hops is exactly the earliest closer with
    ``>= min_n`` total hops, and with every loop event anchoring its own
    potential match this reproduces MATCH_RECOGNIZE's per-row
    skip-to-next semantics for ``A+ B``.

    Remaps: ``skip_to_first:1`` is the anchor row itself (the
    infinite-loop case) and raises; ``skip_to_last:1`` is the inner
    loop's last hop, mapped whenever the loop has ``min_n >= 2`` (thinner
    loops are rejected by the target check).  CountBetween indices shift
    by one, so one anchored on the loop lands on the inner loop, which
    the shared check rejects."""
    sp = steps[0]
    if sp.min_n < 1:
        raise ValueError(
            "an ANCHOR-position LoopStep needs min_n >= 1 (A* cannot "
            "anchor — something must start the match)"
        )
    _check_loop_bounds(1, sp)
    if len(steps) == 1:
        # [LoopStep] alone: A{m,} closed by the anchor horizon / session
        # bound — desugars onto the FINAL-loop path
        if sp.min_n < 2:
            raise ValueError(
                "a pattern that is ONLY a loop (A+ alone) needs "
                "min_n >= 2: with min_n=1 every matching event would "
                "emit a vacuous single-hop match at the horizon"
            )
        if not sp.bind:
            raise ValueError(
                "a pattern that is ONLY a loop needs bind measures — "
                "with bind=False the emitted rows would carry no match "
                "identity (no closer step exists to emit ts_k/id_k)"
            )
    mode, target = _parse_after_match(after_match, len(steps))
    if target == 1 and mode == "first":
        raise ValueError(
            "skip_to_first:1 on an anchor-position loop is the "
            "match's first row — the statically-rejected "
            "infinite-loop case"
        )
    if target is not None:
        after_match = f"skip_to_{mode}:{target + 1}"
    inner = _dc_replace(
        sp,
        min_n=sp.min_n - 1,
        max_n=None if sp.max_n is None else sp.max_n - 1,
    )
    return inner, dict(
        optional_steps={_shift_pos(i) for i in optional_steps or ()} or None,
        strict_steps={_shift_pos(s) for s in strict} or None,
        counts=[
            _dc_replace(c, lo_step=c.lo_step + 1, hi_step=c.hi_step + 1)
            for c in counts or ()
        ] or None,
        after_match=after_match,
    )


def _anchor_loop_project(out: DataFrame, name: str, bind) -> DataFrame:
    """Post-projection for the anchor-loop desugar: fold the synthetic
    anchor step back into the loop's measures (the anchor IS the first
    hop: n + 1, first = anchor, last defaults to the anchor when no
    further hop matched, the bound id array gains the anchor in front)
    and shift every ``ts_k``/``id_k``/``branch_k`` down one position so
    the user-facing columns match the pattern as written.  Works on the
    batch and the stream result alike — plain column algebra."""
    sel = []
    for c in out.columns:
        if c in ("ts_1", "id_1", "branch_1"):
            continue  # the synthetic anchor: folded into the measures
        if bind and c == f"first_{name}_ts":
            sel.append(F.col("ts_1").alias(c))
        elif bind and c == f"first_{name}_id":
            sel.append(F.col("id_1").alias(c))
        elif bind and c == f"last_{name}_ts":
            sel.append(F.coalesce(F.col(c), F.col("ts_1")).alias(c))
        elif bind and c == f"last_{name}_id":
            sel.append(F.coalesce(F.col(c), F.col("id_1")).alias(c))
        elif bind == "all" and c == f"{name}_ids":
            sel.append(F.concat(F.array(F.col("id_1")), F.col(c)).alias(c))
        elif c == f"n_{name}":
            sel.append((F.col(c) + F.lit(1)).cast("long").alias(c))
        else:
            m = re.fullmatch(r"(ts|id|branch)_(\d+)", c)
            if m:
                sel.append(
                    F.col(c).alias(f"{m.group(1)}_{int(m.group(2)) - 1}")
                )
            else:
                sel.append(F.col(c))
    return out.select(*sel)


def match_sequence(
    df: DataFrame,
    steps: list,
    key_cols: list[str],
    time_col: str = "ts",
    id_col: str = "event_id",
    within: str = "30 minutes",
    forbid: Column | None = None,
    step_within: str | None = None,
    optional_steps: set[int] | None = None,
    counts: list[CountBetween] | None = None,
    after_match: str = "skip_to_next",
    strict_steps: set[int] | None = None,
    contiguous: bool = False,
) -> DataFrame:
    """Ordered-sequence detection: one output row per step-1 anchor whose
    full pattern completes, with (ts_k, id_k) for every step.

    ``strict_steps`` marks 1-based step positions as STRICTLY CONTIGUOUS
    (Flink's ``next()`` vs the default ``followedBy``; MATCH_RECOGNIZE's
    default adjacency): a strict step must be matched by the key's very
    NEXT event after the previous matched step — any intervening event
    of the key (ANY type, pattern vocabulary or not) kills the match
    attempt.  "Next" is the (ts, id) order over events with ts strictly
    after the previous step's (same open boundary as a regular step, so
    an event sharing the previous step's timestamp neither matches nor
    kills).  ``contiguous=True`` is shorthand for every step 2..k being
    strict.  Strictness applies to plain/alternation required steps
    only: the anchor cannot be strict (nothing precedes it) and a loop
    or optional step — or the step right after one — cannot (the
    "previous matched row" is not a single fixed event there); both
    raise.  Physically one extra left-anti range join per strict step
    over the (already small) match set, the same shape as ``forbid``.

    ``steps`` are boolean Column predicates over ``df``'s rows, e.g.
    ``[F.col("event_type") == "view", F.col("event_type") == "click"]``.
    ``id_col`` must be unique per row — it is the deterministic tiebreak
    for simultaneous events and the anchor identity in the output. Rows
    with a null ts or id are dropped up front, and a row with a null key
    never matches (every step after the anchor joins on ``key == key``);
    :func:`match_sequence_stream` drops the same rows.

    A step may instead be a LIST of predicates — alternation, the
    ``A (B|C) D`` pattern: the step matches the earliest event satisfying
    ANY branch, and the output adds a ``branch_k`` int column recording
    WHICH branch matched (0-based; MATCH_RECOGNIZE's ``CLASSIFIER()``
    analogue). An event satisfying several branches reports the lowest
    branch index. Physically the branch candidate sources are unioned
    before the same min(struct) — no extra shuffle vs a plain step, the
    union is scan-parallel.

    ``forbid`` is CEP negation (MATCH_RECOGNIZE's absent pattern /
    Flink's notFollowedBy): a completed match is DROPPED if any event
    satisfying the predicate occurs strictly between the anchor and the
    final step (same key). One extra left-anti range join after the last
    step — the match set is already small by then, so the negation join
    is cheap relative to the step joins.

    ``step_within`` additionally bounds the gap between CONSECUTIVE steps
    (Flink's per-transition `within`): step k must occur no later than
    ``step_within`` after step k-1, on top of the anchor-wide ``within``.
    Note the earliest-qualifying choice stays greedy per step, so with a
    gap bound a match can be missed that a backtracking matcher would
    find (skip-to-next semantics, same as the stream state machine).

    ``optional_steps`` (MATCH_RECOGNIZE's ``B?``) marks 1-based step
    indices as skippable. Deterministic no-lookahead rule, shared with the
    stream twin: optional step k is TAKEN iff its earliest candidate after
    step k-1 occurs strictly before the earliest candidate of step k+1 —
    i.e. whichever qualifying event comes first in event time decides, so
    in-order streaming needs no backtracking. Skipped steps emit null
    ``ts_k``/``id_k``. Constraints (``_check_pattern``, shared with the
    stream twin): the anchor (step 1) and the final step cannot be
    optional, two consecutive steps cannot both be optional, and
    ``step_within`` cannot be combined with optionals (the gap base would
    be ambiguous) — violations raise.

    ``counts`` are :class:`CountBetween` quantifiers — bounded-loop
    (``B{m,n}``) semantics as a declarative count over the open interval
    between two matched (non-optional) steps, emitted as ``n_<name>`` and
    filtered to ``[min_n, max_n]``. One extra aggregate-after-range-join
    per spec, applied after the sequence completes (the match set is small
    by then).

    ``after_match`` selects the MATCH_RECOGNIZE skip strategy:
    ``"skip_to_next"`` (default — every anchor reported, matches may
    overlap), ``"skip_past_last"`` (greedy non-overlapping: keep matches
    in anchor order, dropping any whose anchor (ts, id) is not strictly
    after the previous kept match's final row — AFTER MATCH SKIP PAST
    LAST ROW), or ``"skip_to_first:<pos>"`` / ``"skip_to_last:<pos>"``
    (AFTER MATCH SKIP TO FIRST|LAST <var>, the variable addressed by its
    1-based step POSITION like ``strict_steps``): matching resumes AT the
    row bound to that step, so the skip row itself may anchor the next
    match (inclusive comparison) while matches anchored strictly between
    the previous anchor and the skip row are discarded. The target must
    be a required step 2..k (position 1 — the match's first row — is the
    SQL spec's infinite-loop runtime error, rejected statically; a
    skipped optional would leave the variable unmapped, also rejected); a
    LoopStep target reads its ``first``/``last`` bound hop, so it needs
    ``bind`` measures and ``min_n >= 1``. Because every step binds the
    EARLIEST qualifying event, an earlier anchor never completes after a
    later one, so the greedy pass over the already-computed match set
    equals the sequential restart-at-skip-point search; it runs per key
    via applyInPandas over the (small) match table only — the event
    table never reaches Python."""
    strict = frozenset(strict_steps or ()) | (
        frozenset(range(2, len(steps) + 1)) if contiguous else frozenset()
    )
    if steps and isinstance(steps[0], LoopStep):
        # ANCHOR-position loop (A+ B …): desugar to A (A)* B … — the
        # first hop anchors, the rest ride the middle/final loop path —
        # then fold the anchor back into the measures.  One recursion
        # level only (the desugared anchor is a plain Column).
        sp0 = steps[0]
        if not _valid_loop_pred(sp0.pred):
            raise ValueError(
                "step 1: batch LoopStep needs pred= (a Column or a list "
                "of Columns)"
            )
        inner, shifted = _anchor_loop_args(
            steps, optional_steps, strict, counts, after_match
        )
        anchor_spec = (
            sp0.pred if isinstance(sp0.pred, Column) else list(sp0.pred)
        )

        def _shift_cross(s):
            # The desugar shifts positions >= 2 up by one, but a
            # CrossPred's ``pred`` is an OPAQUE Column whose references
            # (``_def_<j>_<col>``, ``ts_<j>``, ``id_<j>``) are baked to
            # the PRE-shift numbering — remapping ``needs`` alone would
            # leave the pred pointing at columns the shifted frame no
            # longer carries (UNRESOLVED_COLUMN at runtime). No rewrite
            # of an opaque Column is possible, so reject with a targeted
            # error instead of failing deep in analysis.
            if not isinstance(s, CrossPred):
                return s
            raise ValueError(
                "a CrossPred step cannot be combined with an "
                "anchor-position loop (the A+ ... desugar renumbers "
                "steps, which an opaque CrossPred predicate cannot "
                "follow); anchor the pattern on a plain step, or move "
                "the loop off position 1"
            )

        out = match_sequence(
            df,
            [anchor_spec, inner, *[_shift_cross(s) for s in steps[1:]]],
            key_cols,
            time_col=time_col,
            id_col=id_col,
            within=within,
            forbid=forbid,
            step_within=step_within,
            **shifted,
        )
        return _anchor_loop_project(out, sp0.name, sp0.bind)
    if len(steps) < 2:
        raise ValueError("match_sequence needs at least 2 steps")
    k_total = len(steps)
    opt = set(optional_steps or ())
    loops = {j + 1: s for j, s in enumerate(steps) if isinstance(s, LoopStep)}
    for p, sp_ in loops.items():
        if not _valid_loop_pred(sp_.pred):
            raise ValueError(
                f"step {p}: batch LoopStep needs pred= (a Column or a "
                "list of Columns)"
            )
    for spec in counts or ():
        if spec.pred is None:
            raise ValueError(
                "batch CountBetween needs pred= (a Column; value= is the "
                "stream twin's literal)"
            )
    skip_mode, skip_target = _check_pattern(
        k_total, loops, opt, strict, step_within, forbid is not None,
        after_match, counts,
    )
    cross = {
        j + 1: s for j, s in enumerate(steps) if isinstance(s, CrossPred)
    }
    _check_cross_refs(
        {p: {j for j, _ in sp_.needs} for p, sp_ in cross.items()}, loops, opt
    )
    captures: dict[int, list[str]] = {}
    if cross:
        for sp_ in cross.values():
            for j, col in sp_.needs:
                if col not in df.columns:
                    raise ValueError(
                        f"CrossPred capture column {col!r} is not an "
                        "input column"
                    )
                cl = captures.setdefault(j, [])
                if col not in cl:
                    cl.append(col)
            for c in sp_.ev_cols:
                if c not in df.columns:
                    raise ValueError(
                        f"CrossPred event column {c!r} is not an input "
                        "column"
                    )
        captures = {j: sorted(cols) for j, cols in captures.items()}
    for j, s in enumerate(steps):
        if _is_alt(s) and not len(s):
            raise ValueError(f"step {j + 1}: alternation needs >= 1 branch")
    _out_columns(
        key_cols, k_total, loops, [_is_alt(s) for s in steps], counts, False
    )
    # null time/id rows can neither anchor nor advance (null comparisons are
    # false) and the min(struct) tiebreak is ill-defined on null ids — drop
    # them up front so batch and stream treat contract-violating rows
    # identically (the stream twin dropna()s the same rows).
    df = df.filter(F.col(time_col).isNotNull() & F.col(id_col).isNotNull())
    iv = F.expr(f"INTERVAL {within}")
    step_iv = F.expr(f"INTERVAL {step_within}") if step_within else None

    def _src(spec, tcol, icol, bcol, ev_cols=()):
        """Candidate source for a step: (key, ts, id, branch). Alternation
        unions the per-branch filters (branch index recorded); a plain step
        carries a constant branch 0 that is projected away later.
        ``ev_cols`` additionally exposes payload columns as ``_ev_<col>``
        — for CrossPred evaluation and for capture by later steps."""
        branches = list(spec) if _is_alt(spec) else [spec]
        parts = [
            df.filter(p).select(
                *key_cols,
                F.col(time_col).alias(tcol),
                F.col(id_col).alias(icol),
                F.lit(j).cast("int").alias(bcol),
                *[F.col(c).alias(f"_ev_{c}") for c in ev_cols],
            )
            for j, p in enumerate(branches)
        ]
        return reduce(lambda a, b: a.unionByName(b), parts)

    cap1 = captures.get(1, ())
    cur = _src(steps[0], "ts_1", "id_1", "branch_1", ev_cols=cap1)
    if _is_alt(steps[0]):
        # one anchor per EVENT: an event matching several branches reports
        # the lowest branch index, not two anchors. Captured payload is
        # per-event (same id), so min() is just a deterministic pick.
        cur = cur.groupBy(*key_cols, "ts_1", "id_1").agg(
            F.min("branch_1").alias("branch_1"),
            *[F.min(f"_ev_{c}").alias(f"_def_1_{c}") for c in cap1],
        )
    else:
        cur = cur.drop("branch_1")
        for c in cap1:
            cur = cur.withColumnRenamed(f"_ev_{c}", f"_def_1_{c}")

    prev_ts = "ts_1"
    k = 2
    while k <= k_total:
        if k in opt:
            # optional step k, decided jointly with its (required) closer
            # k+1: earliest-candidate-wins — see docstring. Both candidate
            # sets are bounded after prev_ts; when the optional is taken
            # (b < c), the closer candidate is unchanged (any closer event
            # before b would have forced the skip path).
            anchor_cols = list(cur.columns)
            b = _src(steps[k - 1], "_bt", "_bi", "_bb")
            bcond = [F.col("_bt") > F.col(prev_ts), F.col("_bt") <= F.col("ts_1") + iv]
            cur = (
                cur.join(b, on=key_cols, how="left")
                .withColumn(
                    "_bm",
                    F.when(
                        reduce(lambda a, c: a & c, bcond),
                        F.struct(F.col("_bt"), F.col("_bi"), F.col("_bb")),
                    ),
                )
                .groupBy(*anchor_cols)
                .agg(F.min("_bm").alias("_bm"))
            )
            anchor_cols2 = list(cur.columns)
            nxt = _src(steps[k], "_t", "_i", "_cb")
            cur = (
                cur.join(nxt, on=key_cols)
                .filter(
                    (F.col("_t") > F.col(prev_ts))
                    & (F.col("_t") <= F.col("ts_1") + iv)
                )
                .groupBy(*anchor_cols2)
                .agg(
                    F.min(
                        F.struct(F.col("_t"), F.col("_i"), F.col("_cb"))
                    ).alias("_m")
                )
            )
            taken = F.col("_bm").isNotNull() & (F.col("_bm._bt") < F.col("_m._t"))
            proj = [
                *[c for c in anchor_cols2 if c != "_bm"],
                F.when(taken, F.col("_bm._bt")).alias(f"ts_{k}"),
                F.when(taken, F.col("_bm._bi")).alias(f"id_{k}"),
            ]
            if _is_alt(steps[k - 1]):
                proj.append(F.when(taken, F.col("_bm._bb")).alias(f"branch_{k}"))
            proj += [
                F.col("_m._t").alias(f"ts_{k + 1}"),
                F.col("_m._i").alias(f"id_{k + 1}"),
            ]
            if _is_alt(steps[k]):
                proj.append(F.col("_m._cb").alias(f"branch_{k + 1}"))
            cur = cur.select(*proj)
            prev_ts = f"ts_{k + 1}"
            k += 2
            continue
        if k in loops and k == k_total:
            # FINAL-position Kleene loop: no closer event — the loop closes
            # at the anchor horizon (ts_1 + within), or at the session bound
            # when the caller sessionized the key and made `within` inert.
            # Hops are every pred event in (prev_ts, ts_1 + within]; the
            # match emits iff at least min_n accrued (measures capped at
            # max_n, excess ignored — same discipline as the closer form).
            # Plan: ONE range join + ONE groupBy — min_n >= 1 (validated)
            # makes the inner join's empty-group drop exactly the filter.
            spec = steps[k - 1]
            anchor_cols = list(cur.columns)
            lsrc = df.filter(_loop_pred(spec)).select(
                *[F.col(c).alias(f"_lk_{c}") for c in key_cols],
                F.col(time_col).alias("_lt"),
                F.col(id_col).alias("_li"),
            )
            lcond = reduce(
                lambda a, b: a & b,
                [F.col(c) == F.col(f"_lk_{c}") for c in key_cols]
                + [
                    F.col("_lt") > F.col(prev_ts),
                    F.col("_lt") <= F.col("ts_1") + iv,
                ],
            )
            agg = (
                cur.join(lsrc, on=lcond)
                .groupBy(*anchor_cols)
                .agg(
                    F.count("_lt").alias("_ln"),
                    F.sort_array(
                        F.collect_list(F.struct(F.col("_lt"), F.col("_li")))
                    ).alias("_lh"),
                )
                .filter(F.col("_ln") >= spec.min_n)
            )
            ncap = (
                F.col("_ln")
                if spec.max_n is None
                else F.least(F.col("_ln"), F.lit(spec.max_n))
            )
            proj = [*anchor_cols, ncap.cast("long").alias(f"n_{spec.name}")]
            if spec.bind:
                npos = ncap.cast("int")
                first = F.element_at("_lh", 1)
                last = F.element_at("_lh", npos)
                proj += [
                    first["_lt"].alias(f"first_{spec.name}_ts"),
                    first["_li"].alias(f"first_{spec.name}_id"),
                    last["_lt"].alias(f"last_{spec.name}_ts"),
                    last["_li"].alias(f"last_{spec.name}_id"),
                ]
                if spec.bind == "all":
                    proj.append(
                        F.transform(
                            F.slice(F.col("_lh"), 1, npos),
                            lambda h: h["_li"],
                        ).alias(f"{spec.name}_ids")
                    )
            cur = agg.select(*proj)
            k += 1
            continue
        if k in loops:
            # Kleene loop step k, closed jointly by required step k+1: the
            # closer is the earliest candidate whose open interval back to
            # the previous matched step holds >= min_n loop events (excess
            # beyond max_n is ignored, not poison). One candidate join +
            # one count range-join + min(struct); binding adds one more
            # range join AFTER the closer is fixed (match-set sized).
            spec = steps[k - 1]
            anchor_cols = list(cur.columns)
            csp = steps[k]
            c_cross = isinstance(csp, CrossPred)
            cap_c = captures.get(k + 1, ())
            ev_need_c = (
                sorted(set(csp.ev_cols) | set(cap_c)) if c_cross
                else list(cap_c)
            )
            if spec.greedy:
                # greedy closers carry a "do I also match the loop body?"
                # flag: a dual-matching candidate may only close once the
                # hop cap is reached (possessive munch)
                if c_cross:
                    branches = [
                        csp.local if csp.local is not None else F.lit(True)
                    ]
                else:
                    branches = list(csp) if _is_alt(csp) else [csp]
                body_pred = _loop_pred(spec)
                nxt = reduce(
                    lambda a, b: a.unionByName(b),
                    [
                        df.filter(p).select(
                            *key_cols,
                            F.col(time_col).alias("_t"),
                            F.col(id_col).alias("_i"),
                            F.lit(j).cast("int").alias("_cb"),
                            F.coalesce(body_pred, F.lit(False)).alias(
                                "_cbody"
                            ),
                            *[
                                F.col(c).alias(f"_ev_{c}")
                                for c in ev_need_c
                            ],
                        )
                        for j, p in enumerate(branches)
                    ],
                )
            else:
                nxt = _src(
                    csp.local if c_cross and csp.local is not None
                    else (F.lit(True) if c_cross else csp),
                    "_t", "_i", "_cb", ev_cols=ev_need_c,
                )
            cj_bound = (F.col("_t") > F.col(prev_ts)) & (
                F.col("_t") <= F.col("ts_1") + iv
            )
            if c_cross:
                # per-candidate cross evaluation: a closer candidate
                # failing the cross comparison is skipped, the next tried
                cj_bound = cj_bound & csp.pred
            cj = cur.join(nxt, on=key_cols).filter(cj_bound)
            lsrc = df.filter(_loop_pred(spec)).select(
                *[F.col(c).alias(f"_lk_{c}") for c in key_cols],
                F.col(time_col).alias("_lt"),
                F.col(id_col).alias("_li"),
            )
            lcond = reduce(
                lambda a, b: a & b,
                [F.col(c) == F.col(f"_lk_{c}") for c in key_cols]
                + [
                    F.col("_lt") > F.col(prev_ts),
                    F.col("_lt") < F.col("_t"),
                ],
            )
            cand_cols = ["_t", "_i", "_cb"] + (
                ["_cbody"] if spec.greedy else []
            ) + [f"_ev_{c}" for c in ev_need_c]
            counted = (
                cj.join(lsrc, on=lcond, how="left")
                .groupBy(*anchor_cols, *cand_cols)
                .agg(F.count("_lt").alias("_ln"))
            )
            elig = F.col("_ln") >= spec.min_n
            if spec.greedy:
                # a dual-matching closer closes only once the ts-strict
                # hop count has reached max_n (with max_n=None: never)
                cap_reached = (
                    F.lit(False)
                    if spec.max_n is None
                    else F.col("_ln") >= F.lit(spec.max_n)
                )
                elig = elig & (~F.col("_cbody") | cap_reached)
            best = (
                counted.filter(elig)
                .groupBy(*anchor_cols)
                .agg(
                    F.min(
                        F.struct(
                            F.col("_t"), F.col("_i"), F.col("_cb"),
                            F.col("_ln"),
                            # captured payload trails (id is unique — the
                            # extra fields never decide the min)
                            *[F.col(f"_ev_{c}") for c in cap_c],
                        )
                    ).alias("_m")
                )
            )
            ncap = (
                F.col("_m._ln")
                if spec.max_n is None
                else F.least(F.col("_m._ln"), F.lit(spec.max_n))
            )
            proj = [
                *anchor_cols,
                ncap.cast("long").alias(f"n_{spec.name}"),
                F.col("_m._t").alias(f"ts_{k + 1}"),
                F.col("_m._i").alias(f"id_{k + 1}"),
            ]
            if _is_alt(csp):
                proj.append(F.col("_m._cb").alias(f"branch_{k + 1}"))
            proj += [
                F.col(f"_m._ev_{c}").alias(f"_def_{k + 1}_{c}")
                for c in cap_c
            ]
            cur = best.select(*proj)
            if spec.bind:
                # bound-hop measures over the now-fixed (prev, closer)
                # interval: first min(raw, max_n) hops in (ts, id) order
                lcond2 = reduce(
                    lambda a, b: a & b,
                    [F.col(c) == F.col(f"_lk_{c}") for c in key_cols]
                    + [
                        F.col("_lt") > F.col(prev_ts),
                        F.col("_lt") < F.col(f"ts_{k + 1}"),
                    ],
                )
                grp_cols = [c for c in cur.columns]
                hop = F.struct(F.col("_lt"), F.col("_li"))
                cur = (
                    cur.join(lsrc, on=lcond2, how="left")
                    .groupBy(*grp_cols)
                    .agg(
                        F.sort_array(
                            F.collect_list(
                                F.when(F.col("_lt").isNotNull(), hop)
                            )
                        ).alias("_lh")
                    )
                )
                npos = F.col(f"n_{spec.name}")
                first = F.when(npos > 0, F.element_at("_lh", 1))
                last = F.when(
                    npos > 0, F.element_at("_lh", npos.cast("int"))
                )
                bind_proj = []
                for c in grp_cols:
                    bind_proj.append(F.col(c))
                    if c == f"n_{spec.name}":
                        bind_proj += [
                            first["_lt"].alias(f"first_{spec.name}_ts"),
                            first["_li"].alias(f"first_{spec.name}_id"),
                            last["_lt"].alias(f"last_{spec.name}_ts"),
                            last["_li"].alias(f"last_{spec.name}_id"),
                        ]
                        if spec.bind == "all":
                            bind_proj.append(
                                F.when(
                                    npos > 0,
                                    F.transform(
                                        F.slice(
                                            F.col("_lh"), 1, npos.cast("int")
                                        ),
                                        lambda h: h["_li"],
                                    ),
                                )
                                .otherwise(F.array().cast("array<long>"))
                                .alias(f"{spec.name}_ids")
                            )
                cur = cur.select(*bind_proj)
            prev_ts = f"ts_{k + 1}"
            k += 2
            continue
        sp_k = steps[k - 1]
        cap_k = captures.get(k, ())
        if isinstance(sp_k, CrossPred):
            # the cross part of the predicate cannot be scanned-for (it
            # references the partial frame) — candidates carry the local
            # pre-filter only; the cross comparison joins the step's
            # existing candidate join, so failing candidates are skipped
            # per-candidate (sequential semantics), not post-match
            ev_need = sorted(set(sp_k.ev_cols) | set(cap_k))
            nxt = _src(
                sp_k.local if sp_k.local is not None else F.lit(True),
                "_t", "_i", "_b", ev_cols=ev_need,
            )
        else:
            nxt = _src(sp_k, "_t", "_i", "_b", ev_cols=cap_k)
        anchor_cols = list(cur.columns)
        bound = (F.col("_t") > F.col(prev_ts)) & (
            F.col("_t") <= F.col("ts_1") + iv
        )
        if step_iv is not None:
            bound = bound & (F.col("_t") <= F.col(prev_ts) + step_iv)
        if isinstance(sp_k, CrossPred):
            bound = bound & sp_k.pred
        proj = [
            *anchor_cols,
            F.col("_m._t").alias(f"ts_{k}"),
            F.col("_m._i").alias(f"id_{k}"),
        ]
        if _is_alt(sp_k):
            proj.append(F.col("_m._b").alias(f"branch_{k}"))
        proj += [F.col(f"_m._ev_{c}").alias(f"_def_{k}_{c}") for c in cap_k]
        cur = (
            cur.join(nxt, on=key_cols)
            .filter(bound)
            .groupBy(*anchor_cols)
            # earliest qualifying event, id-tiebroken: struct comparison is
            # lexicographic over (ts, id); the trailing branch field only
            # tiebreaks an event matching several branches (lowest wins)
            # and captured payload fields trail further (id is unique, so
            # they never decide)
            .agg(F.min(F.struct(
                F.col("_t"), F.col("_i"), F.col("_b"),
                *[F.col(f"_ev_{c}") for c in cap_k],
            )).alias("_m"))
            .select(*proj)
        )
        prev_ts = f"ts_{k}"
        k += 1
    for s in sorted(strict):
        # strict contiguity: the bound candidate must BE the key's next
        # event — kill the match if ANY event (any type) lies strictly
        # between the previous step and the candidate in (ts, id) order.
        # Equal to the sequential rule: the machine at step s-1 looks at
        # the next event and dies unless it matches.  Renamed columns
        # sidestep self-join lineage ambiguity (nall and cur both descend
        # from df); left-anti over the already-small match set.
        nall = df.select(
            *[F.col(c).alias(f"_nk_{c}") for c in key_cols],
            F.col(time_col).alias("_nt"),
            F.col(id_col).alias("_ni"),
        )
        cond = [F.col(c) == F.col(f"_nk_{c}") for c in key_cols] + [
            F.col("_nt") > F.col(f"ts_{s - 1}"),
            F.struct(F.col("_nt"), F.col("_ni"))
            < F.struct(
                F.col(f"ts_{s}").alias("_nt"),
                F.col(f"id_{s}").alias("_ni"),
            ),
        ]
        cur = cur.join(nall, on=reduce(lambda a, b: a & b, cond), how="left_anti")
    if forbid is not None:
        k = len(steps)
        # renamed columns sidestep self-join lineage ambiguity (bad and cur
        # both descend from df)
        bad = df.filter(forbid).select(
            *[F.col(c).alias(f"_fk_{c}") for c in key_cols],
            F.col(time_col).alias("_ft"),
        )
        cond = [F.col(c) == F.col(f"_fk_{c}") for c in key_cols] + [
            F.col("_ft") > F.col("ts_1"),
            F.col("_ft") < F.col(f"ts_{k}"),
        ]
        cur = cur.join(bad, on=reduce(lambda a, b: a & b, cond), how="left_anti")
    for spec in counts or ():
        csrc = df.filter(spec.pred).select(
            *[F.col(c).alias(f"_ck_{c}") for c in key_cols],
            F.col(time_col).alias("_ct"),
            F.col(id_col).alias("_ci"),
        )
        ccond = reduce(
            lambda a, b: a & b,
            [F.col(c) == F.col(f"_ck_{c}") for c in key_cols]
            + [
                F.col("_ct") > F.col(f"ts_{spec.lo_step}"),
                F.col("_ct") < F.col(f"ts_{spec.hi_step}"),
            ],
        )
        anchor_cols = list(cur.columns)
        aggs = [F.count("_ct").alias(f"n_{spec.name}")]
        if spec.bind:
            # binding loop measures: FIRST/LAST of the loop's matched
            # events, (ts, id)-ordered — two extra aggregates on the same
            # range join, no extra shuffle
            hop = F.struct(F.col("_ct"), F.col("_ci"))
            aggs += [F.min(hop).alias("_cf"), F.max(hop).alias("_cl")]
            if spec.bind == "all":
                # the left join's no-hop row is a struct of NULL FIELDS
                # (not a null struct) — gate it so collect_list drops it
                # and a zero-hop loop yields an empty array
                aggs.append(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("_ct").isNotNull(), hop)
                        )
                    ).alias("_ch")
                )
        cur = cur.join(csrc, on=ccond, how="left").groupBy(*anchor_cols).agg(*aggs)
        if spec.bind:
            proj = [
                *anchor_cols,
                f"n_{spec.name}",
                F.col("_cf._ct").alias(f"first_{spec.name}_ts"),
                F.col("_cf._ci").alias(f"first_{spec.name}_id"),
                F.col("_cl._ct").alias(f"last_{spec.name}_ts"),
                F.col("_cl._ci").alias(f"last_{spec.name}_id"),
            ]
            if spec.bind == "all":
                proj.append(
                    F.transform(F.col("_ch"), lambda h: h["_ci"]).alias(
                        f"{spec.name}_ids"
                    )
                )
            cur = cur.select(*proj)
        keep = F.col(f"n_{spec.name}") >= spec.min_n
        if spec.max_n is not None:
            keep = keep & (F.col(f"n_{spec.name}") <= spec.max_n)
        cur = cur.filter(keep)
    # captured cross-DEFINE payload is matcher-internal — drop it so the
    # output contract (and the stream twin's column set) is unchanged
    def_cols = [c for c in cur.columns if c.startswith("_def_")]
    if def_cols:
        cur = cur.drop(*def_cols)
    if skip_mode != "next":
        # AFTER MATCH SKIP: sequential-engine semantics replayed as a
        # greedy per-key pass over the (small) match set. The sequential
        # engine emits matches in anchor order and, after each emission,
        # resumes scanning at the skip point, discarding partials anchored
        # before it. Because every step binds the EARLIEST qualifying
        # event, per-anchor matches are deterministic and independent, so
        # "keep the next match whose anchor clears the resume point"
        # reproduces the restart exactly. skip_past_last resumes strictly
        # AFTER the match's final row; skip_to_first/last:<pos> resumes AT
        # the row bound to that step (the skip row may anchor the next
        # match — inclusive comparison).
        if skip_mode == "past_last":
            skip_ts, skip_id, incl = f"ts_{k_total}", f"id_{k_total}", False
        elif skip_target in loops:
            nm = steps[skip_target - 1].name
            skip_ts, skip_id = f"{skip_mode}_{nm}_ts", f"{skip_mode}_{nm}_id"
            incl = True
        else:
            skip_ts, skip_id = f"ts_{skip_target}", f"id_{skip_target}"
            incl = True

        def _greedy(pdf):
            pdf = pdf.sort_values(["ts_1", "id_1"]).reset_index(drop=True)
            keep_idx: list[int] = []
            point = None
            for idx in range(len(pdf)):
                a = (pdf["ts_1"].iat[idx], int(pdf["id_1"].iat[idx]))
                if point is None or (a >= point if incl else a > point):
                    keep_idx.append(idx)
                    point = (
                        pdf[skip_ts].iat[idx],
                        int(pdf[skip_id].iat[idx]),
                    )
            return pdf.iloc[keep_idx]

        cur = cur.groupBy(*key_cols).applyInPandas(_greedy, schema=cur.schema)
    return cur


def all_rows_per_match(
    matches: DataFrame,
    events: DataFrame,
    steps: list,
    key_cols: list[str],
    time_col: str = "ts",
    id_col: str = "event_id",
    counts: list[CountBetween] | None = None,
    step_names: list[str] | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE's ``ALL ROWS PER MATCH`` output mode as an
    expansion over the (already small) one-row-per-match result of
    :func:`match_sequence` / :func:`match_sequence_stream`: one output
    row per BOUND EVENT, carrying the full event payload, the
    ``classifier`` (the pattern variable that bound the row —
    ``CLASSIFIER()``), ``match_no`` (per-key sequential match number in
    anchor order — ``MATCH_NUMBER()``), ``row_in_match`` (the row's
    ordinal inside its match, (ts, id) order), and every measure column
    of the match (FINAL semantics — the same value on every row of the
    match, which is what ``ALL ROWS PER MATCH`` with FINAL measures
    emits).

    ``steps`` is the SAME list passed to the matcher (Columns /
    predicate lists / :class:`LoopStep`), used structurally: a plain or
    alternation step contributes its bound ``id_k`` (a skipped optional
    contributes nothing — MATCH_RECOGNIZE only outputs rows the match
    mapped); a LoopStep contributes every hop id and therefore requires
    ``bind="all"`` (the ``<name>_ids`` measure). ``counts`` may pass the
    matcher's CountBetween list — specs with ``bind="all"`` expand their
    counted rows too (classifier = the count's name), others are
    measures-only. ``step_names`` optionally names the plain steps
    (default ``s1..sk``; loops and counts use their own names) —
    MATCH_RECOGNIZE's variable names.

    Scale shape: plain column algebra (array build + explode) over the
    match set, then ONE equi-join back to ``events`` on (key, id) —
    Catalyst broadcasts the exploded match side when small, and the
    event scan prunes to the join columns plus payload. Works on a
    STREAMING match result too (the explode is stateless) as long as
    ``events`` is a static table (stream-static equi-join); expanding
    against the live stream itself would need a watermarked
    stream-stream join — pass a snapshot instead, or carry the payload
    through the matcher's key. ``match_no``/``row_in_match`` need a
    window over the finished match set, so they are emitted only for
    batch inputs (a streaming expansion keeps the anchor columns as the
    match identity instead)."""
    k_total = len(steps)
    names = list(step_names or (f"s{j}" for j in range(1, k_total + 1)))
    if len(names) != k_total:
        raise ValueError(
            f"step_names has {len(names)} entries for {k_total} steps"
        )
    # anchor identity: (ts_1, id_1), or the folded first-hop measures of
    # an anchor-position loop (whose projection drops the synthetic ts_1)
    if "ts_1" in matches.columns:
        a_ts, a_id = F.col("ts_1"), F.col("id_1")
    elif isinstance(steps[0], LoopStep):
        nm0 = steps[0].name
        if f"first_{nm0}_ts" not in matches.columns:
            raise ValueError(
                "an anchor-position loop needs bind measures to expand "
                "(the anchor identity is its first bound hop)"
            )
        a_ts, a_id = F.col(f"first_{nm0}_ts"), F.col(f"first_{nm0}_id")
    else:
        raise ValueError("matches is missing the anchor columns ts_1/id_1")
    def _loop_part(nm: str):
        # closure factory: a 1-arg lambda only (F.transform hands a 2-arg
        # callable (element, array_index) — a default-arg capture would
        # silently receive the index)
        col = f"{nm}_ids"
        if col not in matches.columns:
            raise ValueError(f"matches is missing the {col} measure")
        return F.transform(
            F.col(col),
            lambda i: F.struct(i.alias("_rid"), F.lit(nm).alias("_cls")),
        )

    parts = []
    for j, spec in enumerate(steps):
        if isinstance(spec, LoopStep):
            if spec.bind != "all":
                raise ValueError(
                    f"step {j + 1}: ALL ROWS PER MATCH needs the loop's "
                    "full hop ids — set bind=\"all\" on the LoopStep"
                )
            parts.append(_loop_part(spec.name))
            continue
        idc = f"id_{j + 1}"
        if idc not in matches.columns:
            raise ValueError(f"matches is missing the {idc} column")
        # a skipped optional has a null id: filter drops the null struct
        parts.append(
            F.filter(
                F.array(
                    F.struct(
                        F.col(idc).alias("_rid"),
                        F.lit(names[j]).alias("_cls"),
                    )
                ),
                lambda s: s["_rid"].isNotNull(),
            )
        )
    for spec in counts or ():
        if spec.bind == "all":
            parts.append(_loop_part(spec.name))
    measure_cols = [c for c in matches.columns if c not in key_cols]
    exp = matches.select(
        *key_cols,
        *measure_cols,
        a_ts.alias("_a_ts"),
        a_id.alias("_a_id"),
        F.explode(F.concat(*parts)).alias("_hit"),
    ).select("*", F.col("_hit._rid").alias("_rid"),
             F.col("_hit._cls").alias("classifier")).drop("_hit")
    ev_cols = [c for c in events.columns if c not in key_cols]
    # matches derives from events, so the join-back is a self-join in
    # lineage terms: alias both sides and use qualified refs throughout
    ja, jb = "_arpm_m", "_arpm_e"
    joined = (
        exp.alias(ja)
        .join(
            events.alias(jb),
            on=reduce(
                lambda a, b: a & b,
                [F.col(f"{ja}.{kc}") == F.col(f"{jb}.{kc}") for kc in key_cols]
                + [F.col(f"{ja}._rid") == F.col(f"{jb}.{id_col}")],
            ),
            how="inner",
        )
        .select(
            *[F.col(f"{ja}.{kc}") for kc in key_cols],
            *[F.col(f"{jb}.{c}") for c in ev_cols],
            F.col(f"{ja}.classifier"),
            *[F.col(f"{ja}.{c}") for c in measure_cols],
            F.col(f"{ja}._a_ts"), F.col(f"{ja}._a_id"),
        )
    )
    if matches.isStreaming:
        return joined.withColumnRenamed("_a_ts", "anchor_ts").withColumnRenamed(
            "_a_id", "anchor_id"
        )
    from pyspark.sql.window import Window

    mw = Window.partitionBy(*key_cols).orderBy("_a_ts", "_a_id")
    rw = Window.partitionBy(*key_cols, "_a_ts", "_a_id").orderBy(
        F.col(time_col), F.col(id_col)
    )
    return (
        joined.withColumn("match_no", F.dense_rank().over(mw))
        .withColumn("row_in_match", F.row_number().over(rw))
        .drop("_a_ts", "_a_id")
    )


def match_repeated_group(
    df: DataFrame,
    preds: list[Column],
    key_cols: list[str],
    min_r: int,
    max_r: int,
    time_col: str = "ts",
    id_col: str = "event_id",
    within: str = "30 minutes",
    greedy: bool = True,
    var_names: list[str] | None = None,
    closer: Column | None = None,
    prefix: list[Column] | None = None,
    suffix: list[Column] | None = None,
    suffix_names: list[str] | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE's quantified SEQUENCE group ``(A B){m,n}`` as a
    lone pattern — or, with ``closer``, ``(A B){m,n} C`` (round 8), or
    with ``prefix``/``suffix``, ``V (A B){m,n} C D`` (late round 8 —
    the group DEEPER inside a pattern, required single-row steps on
    either side): the whole group repeats r times, r in [m, n], and
    (greedy, the standard's munch) the LARGEST feasible r wins per
    anchor row; ``greedy=False`` picks the smallest.

    ``suffix`` generalizes ``closer`` to MULTIPLE trailing steps (give
    one or the other): every r-variant appends them all, so an
    r-variant is feasible only when the whole suffix completes after
    rep r — the same backtracking-munch argument. Suffix rows emit
    ``<name>_ts``/``<name>_id`` per ``suffix_names`` (a single
    ``closer=`` keeps emitting ``closer_ts``/``closer_id``).

    With a ``closer`` predicate, each r-variant is the 2r-step unroll
    PLUS the closer as its final required step — so an r-variant is
    feasible only when the closer ALSO completes after rep r, and the
    r-union's winner pick reproduces the backtracking munch exactly: a
    greedy matcher that consumes r reps but then finds no closer
    backtracks to r-1, which is precisely the (r-1)-variant surviving
    the union. The closer's row is emitted as ``closer_ts`` /
    ``closer_id``.

    With ``prefix`` predicates, every r-variant starts with the SAME
    prefix steps, whose earliest-first binding from a given anchor row
    is variant-independent — so the per-anchor winner rule is unchanged
    and the anchor ``(ts_1, id_1)`` is the FIRST PREFIX step's row
    (additional prefix steps emit ``ts_2``/``id_2`` …).

    Semantics — defined by construction: each repetition count r is the
    plain relaxed-contiguity sequence ``[prefix] A B A B … [closer]``
    matched independently (the engine's earliest-first binding), and
    the variants are unioned with one winner per anchor.  The union IS
    the backtracking a sequential munch lacks: an r-variant failing
    never poisons the (r-1)-variant.  Bounded n required (the k·n-step
    unroll is the documented cost — same k! shape as PERMUTE); group
    variables bind MULTIPLE rows, so the output carries the loop-style
    measures ``n_reps``, ``first/last_<var>_{ts,id}`` per group
    variable, plus the anchor ``(ts_1, id_1)`` and the match end
    ``(end_ts, end_id)`` (the last GROUP row).

    Composition, not a new engine: one :func:`match_sequence` per r
    (n−m+1 of them) over the SAME pruned scan, a union, and one
    per-anchor ``max/min(struct(n_reps, …))`` — all joins/aggregates,
    no Python. Batch-only."""
    k = len(preds)
    np_ = len(prefix or ())
    if k < 2:
        raise ValueError("a sequence group needs >= 2 variables")
    if not (1 <= min_r <= max_r):
        raise ValueError("need 1 <= min_r <= max_r")
    if closer is not None and suffix:
        raise ValueError("give either closer= or suffix=, not both")
    suf = list(suffix or ()) if closer is None else [closer]
    if max_r * k > 12 or np_ + max_r * k + len(suf) > 14:
        raise ValueError(
            "group unroll too large (reps * vars > 12, or > 14 total "
            "steps with prefix/suffix) — the r-variant union is the "
            "documented cost of quantified sequence groups"
        )
    for part, what in ((prefix, "prefix"), (suf, "suffix")):
        if part and not all(isinstance(p, Column) for p in part):
            raise ValueError(
                f"{what} steps must be plain Column predicates (loops / "
                "alternations / cross references around a quantified "
                "group are not supported)"
            )
    names = var_names or [f"v{j + 1}" for j in range(k)]
    if len(names) != k:
        raise ValueError("var_names must name every group variable")
    snames = suffix_names or [f"s{i + 1}" for i in range(len(suf))]
    if len(snames) != len(suf):
        raise ValueError("suffix_names must name every suffix step")
    pre = list(prefix or ())
    variants = []
    for r in range(min_r, max_r + 1):
        steps_r = [*pre, *(p for _ in range(r) for p in preds), *suf]
        m = match_sequence(
            df, steps_r, key_cols,
            time_col=time_col, id_col=id_col, within=within,
        )
        sel = [
            *key_cols, F.col("ts_1"), F.col("id_1"),
            *[c for i in range(2, np_ + 1)
              for c in (F.col(f"ts_{i}"), F.col(f"id_{i}"))],
            F.lit(r).alias("n_reps"),
            F.col(f"ts_{np_ + r * k}").alias("end_ts"),
            F.col(f"id_{np_ + r * k}").alias("end_id"),
        ]
        for j, nm in enumerate(names):
            firstp = np_ + j + 1
            lastp = firstp + (r - 1) * k
            sel += [
                F.col(f"ts_{firstp}").alias(f"first_{nm}_ts"),
                F.col(f"id_{firstp}").alias(f"first_{nm}_id"),
                F.col(f"ts_{lastp}").alias(f"last_{nm}_ts"),
                F.col(f"id_{lastp}").alias(f"last_{nm}_id"),
            ]
        if closer is not None:
            sel += [
                F.col(f"ts_{np_ + r * k + 1}").alias("closer_ts"),
                F.col(f"id_{np_ + r * k + 1}").alias("closer_id"),
            ]
        else:
            for i, nm in enumerate(snames):
                pos = np_ + r * k + 1 + i
                sel += [
                    F.col(f"ts_{pos}").alias(f"{nm}_ts"),
                    F.col(f"id_{pos}").alias(f"{nm}_id"),
                ]
        variants.append(m.select(*sel))
    u = variants[0]
    for v in variants[1:]:
        u = u.unionByName(v)
    if len(variants) == 1:
        return u
    payload = [
        c for c in u.columns
        if c not in (*key_cols, "ts_1", "id_1", "n_reps")
    ]
    pick = F.max if greedy else F.min
    best = (
        u.groupBy(*key_cols, "ts_1", "id_1")
        .agg(pick(F.struct("n_reps", *payload)).alias("_m"))
    )
    return best.select(
        *key_cols, "ts_1", "id_1",
        F.col("_m.n_reps").alias("n_reps"),
        *[F.col(f"_m.{c}").alias(c) for c in payload],
    )


def match_permutation(
    df: DataFrame,
    preds: list[Column],
    key_cols: list[str],
    time_col: str = "ts",
    id_col: str = "event_id",
    within: str = "30 minutes",
    strict_steps: set[int] | None = None,
    contiguous: bool = False,
) -> DataFrame:
    """MATCH_RECOGNIZE's ``PERMUTE(A, B, C)``: the steps may match in ANY
    order — the pattern is the alternation of every ordering, and (per
    the SQL spec) the LEXICOGRAPHICALLY FIRST permutation that matches
    from a given starting row wins, so each starting row yields at most
    one match.

    Output: ``perm_idx`` (0-based index into ``itertools.permutations``
    order — the winning ordering) and ``ts_s<j>``/``id_s<j>`` per
    ORIGINAL step j (the variable's row regardless of its position in
    the winning ordering — MATCH_RECOGNIZE's variable binding), plus the
    key.  ``strict_steps``/``contiguous`` apply by POSITION in each
    tried ordering (``contiguous=True`` is the spec's default adjacency:
    the k rows must be consecutive events of the key).

    Composition, not a new engine: one :func:`match_sequence` per
    ordering (k! of them — ``k`` is capped at 4), unioned with the
    permutation index, then one groupBy per starting row taking
    ``min(struct(perm_idx, ...))``.  The k! expansion is the documented
    cost of PERMUTE in every engine that implements it; the per-ordering
    plans share the same pruned scan and the final dedup groups the
    (small) union of match sets.  Batch-only: PERMUTE is a SQL
    MATCH_RECOGNIZE construct with no Flink-CEP streaming analogue, and
    the cross-permutation dedup needs the full match set per starting
    row.  Loops/optionals/counts/negation are not composable with
    PERMUTE (the spec's PERMUTE arguments are primary pattern variables)
    — use an explicit alternation of :func:`match_sequence` calls for
    exotic combinations."""
    from itertools import permutations

    k = len(preds)
    if not (2 <= k <= 4):
        raise ValueError(
            "PERMUTE supports 2..4 steps (the pattern expands to k! "
            "orderings)"
        )
    if not all(isinstance(p, Column) for p in preds):
        raise ValueError("PERMUTE steps must be plain Column predicates")
    outs = []
    for pi, perm in enumerate(permutations(range(k))):
        m = match_sequence(
            df,
            [preds[j] for j in perm],
            key_cols,
            time_col=time_col,
            id_col=id_col,
            within=within,
            strict_steps=strict_steps,
            contiguous=contiguous,
        )
        sel = [*key_cols, F.lit(pi).cast("int").alias("perm_idx")]
        # position p in this ordering binds ORIGINAL variable perm[p-1]+1
        for p in range(1, k + 1):
            orig = perm[p - 1] + 1
            sel.append(F.col(f"ts_{p}").alias(f"ts_s{orig}"))
            sel.append(F.col(f"id_{p}").alias(f"id_s{orig}"))
        sel.append(F.col("ts_1").alias("_start_ts"))
        sel.append(F.col("id_1").alias("_start_id"))
        outs.append(m.select(*sel))
    u = reduce(lambda a, b: a.unionByName(b), outs)
    data_cols = ["perm_idx"] + [
        f"{c}_s{j}" for j in range(1, k + 1) for c in ("ts", "id")
    ]
    best = (
        u.groupBy(*key_cols, "_start_ts", "_start_id")
        .agg(F.min(F.struct(*[F.col(c) for c in data_cols])).alias("_m"))
    )
    return best.select(
        *key_cols, *[F.col(f"_m.{c}").alias(c) for c in data_cols]
    )


def match_sequence_sessionized(
    df: DataFrame,
    steps: list,
    key_cols: list[str],
    gap: str = "30 minutes",
    time_col: str = "ts",
    id_col: str = "event_id",
    time_bucket: str | None = None,
    **kwargs,
) -> DataFrame:
    """Session-bounded sequence matching — the product-analytics funnel
    variant: instead of a fixed ``within`` horizon from the anchor, the
    pattern must complete inside one SESSION, where sessions split
    whenever a key goes quiet for more than ``gap`` (ANY event keeps the
    session alive, matching how ``session_window`` aggregations sessionize
    the same stream). Events are labeled with a per-key session ordinal
    (lag + gap flag + running sum — the standard sessionization window,
    the same shape the ``session_events`` oracle reconstructs), then
    :func:`match_sequence` runs with the session ordinal folded into the
    key; all its options (``forbid``, ``step_within``, ``optional_steps``,
    ``counts``) pass through. Output carries ``session_id`` per match.

    Skew ceiling: with ``time_bucket=None`` the labeling window partitions
    by ``key`` alone, so one key's full timeline serializes through one
    task (inherent to gap semantics — a session boundary is defined by the
    neighbor event).

    ``time_bucket`` (e.g. ``"1 day"``) is the hot-key mitigation — the
    same two-phase carry as ``asof_join``'s: the lag and the running
    session count partition by ``(key, bucket)``, so per-task work is
    bounded by rows-per-(key, bucket); the cross-bucket seams are a tiny
    second pass over one row per (key, bucket): (a) the previous
    NON-EMPTY bucket's final event time decides whether each bucket's
    first row opens a new session (a session splits at a bucket edge iff
    the gap across the edge exceeds ``gap``), and (b) a running sum of
    per-bucket session-start counts (exclusive) converts the in-bucket
    ordinal into the global one — a two-phase prefix sum. Output equals
    the single-window form exactly (equality-pinned on a hot key by
    tests/test_pipeline_functions.py::test_sessionized_time_bucket_hot_key,
    which also pins the (key, bucket) partitioning in the plan). Null
    ``time_col``/``id_col`` rows are dropped up front in this mode (the
    single-window path defers the identical drop to
    :func:`match_sequence`, so outputs agree). Costs 2 extra small
    shuffles — same crossover guidance as ``asof_join``'s docstring;
    ``operators.joins.suggest_time_bucket`` applies the measured decision
    rule to this operator's input unchanged (same hottest-key shape).
    """
    from pyspark.sql.window import Window

    if "session_id" in df.columns:
        raise ValueError(
            "match_sequence_sessionized labels events with a 'session_id' "
            "column, but the input already has one — rename or drop it "
            "first (silently overwriting user data is not supported)"
        )
    gap_iv = F.expr(f"INTERVAL {gap}")
    if time_bucket is None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(time_col), F.col(id_col))
        prev_ts = F.lag(time_col).over(w)
        new_sess = F.when(
            prev_ts.isNull() | (F.col(time_col) > prev_ts + gap_iv),
            F.lit(1),
        ).otherwise(F.lit(0))
        labeled = df.withColumn(
            "session_id", F.sum(new_sess).over(w).cast("long")
        )
    else:
        import pandas as pd

        bsecs = float(pd.Timedelta(time_bucket).total_seconds())
        if bsecs <= 0:
            raise ValueError(
                f"time_bucket must be a positive duration: {time_bucket!r}"
            )
        df = df.filter(
            F.col(time_col).isNotNull() & F.col(id_col).isNotNull()
        )
        # unix_timestamp accepts TIMESTAMP and TIMESTAMP_NTZ alike; its
        # second truncation is monotonic, which is all bucketing needs
        bcol = F.floor(F.unix_timestamp(F.col(time_col)) / F.lit(bsecs))
        b = df.withColumn("_b", bcol.cast("long"))
        w_kb = Window.partitionBy(*key_cols, "_b").orderBy(
            F.col(time_col), F.col(id_col)
        )
        prev_local = F.lag(time_col).over(w_kb)
        # seams: one row per (key, bucket) — last event time per bucket,
        # carried forward (exclusive) over the key's bucket sequence
        seam = b.groupBy(*key_cols, "_b").agg(
            F.max(time_col).alias("_bucket_last")
        )
        w_carry = (
            Window.partitionBy(*key_cols)
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        seam = seam.withColumn(
            "_carry", F.last("_bucket_last").over(w_carry)
        ).select(*key_cols, "_b", "_carry")
        b = b.join(seam, [*key_cols, "_b"])
        boundary = F.when(prev_local.isNotNull(), prev_local).otherwise(
            F.col("_carry")
        )
        new_sess = F.when(
            boundary.isNull() | (F.col(time_col) > boundary + gap_iv),
            F.lit(1),
        ).otherwise(F.lit(0))
        b = b.withColumn("_ns", new_sess).withColumn(
            "_s_local", F.sum("_ns").over(w_kb)
        )
        # two-phase prefix sum: per-bucket session-start totals, running
        # (exclusive) over buckets -> each bucket's ordinal offset
        totals = b.groupBy(*key_cols, "_b").agg(F.sum("_ns").alias("_nb"))
        offs = totals.withColumn(
            "_off",
            F.coalesce(F.sum("_nb").over(w_carry), F.lit(0)),
        ).select(*key_cols, "_b", "_off")
        labeled = (
            b.join(offs, [*key_cols, "_b"])
            .withColumn(
                "session_id", (F.col("_off") + F.col("_s_local")).cast("long")
            )
            .drop("_b", "_carry", "_ns", "_s_local", "_off")
        )
    # the anchor horizon is the session bound; make the fixed horizon inert
    kwargs.setdefault("within", "3650 days")
    return match_sequence(
        labeled,
        steps,
        [*key_cols, "session_id"],
        time_col=time_col,
        id_col=id_col,
        **kwargs,
    )


# --- compact binary state codec (stream CEP) --------------------------------
# One partial: [nxt, limit, prev, hops, poison, pending, counters, *slots]
#   nxt       0-based index of the next unmatched step
#   limit     anchor_ts + within, epoch-nanos
#   prev      ts of the last matched step, epoch-nanos
#   hops      per matched step: [ts, id, branch] or None (skipped optional)
#   poison    earliest forbidden-event ts or None
#   pending   recorded optional-step candidate [ts, id, branch] or None
#   counters  per CountBetween spec:
#             [n, last_ts|None, n_at_last, frozen, chops]
#             chops = the loop's matched [ts, id] hops, kept ONLY for
#             bind=True specs (empty otherwise)
#   slots     the pattern's trailing slots, the same number on every
#             partial: none; loops (one Kleene loop slot per LoopStep, in
#             the counter shape); or loops + caps (per capture step of a
#             cross_conds pattern, the captured payload doubles, NaN for
#             NULL, or None while the step is unbound)
# Fixed-width little-endian ints — ~1.6x smaller than JSON (8-byte ints vs
# 19-digit decimal ns timestamps + brackets), with no string parse on the
# hot path (state-store bytes are the scaling currency of a continuous CEP
# job); exact round-trip and the size drop are pinned by tests.
#
# A key's partials blob opens with a header: the layout byte, the slot
# count, the last emitted match end, the session cursor and the partial
# count. The layout byte is the one fence against state of older builds:
# no older partials blob starts with it (their version bytes were 2-6, and
# the JSON format began with '[' or '{'), and every stored key has a
# partials blob, decoded before its buffer. The buffer needs no layout byte
# of its own; it records its payload width, checked against the pattern.

_I64_NONE = -(1 << 63)
_LAYOUT = 0xCE
_HEAD = struct.Struct("<BBqqqIH")  # layout, slots, last_end, sess, partials
_PART = struct.Struct("<BqqqqqBH")  # nxt, limit, prev, poison, pending, hops
_TIB = struct.Struct("<qqB")  # a hop [ts, id, branch]; a buffered event
_CTR = struct.Struct("<IqIBH")  # n, last_ts, n_at_last, frozen, hops
_PAIR = struct.Struct("<qq")
_NO_HOP = (_I64_NONE, _I64_NONE, 0)


def _fresh_checkpoint(reason: str) -> ValueError:
    """The error for stream CEP state that this build cannot resume."""
    return ValueError(
        f"CEP state: {reason} — fresh checkpoint needed. Automatic migration "
        "is not supported: restart the streaming query from a FRESH "
        "checkpoint location (matches already emitted to the sink are "
        "preserved by the idempotent sink's key-based merge)."
    )


def _pk_ts(v):
    return _I64_NONE if v is None else v


def _un_ts(v):
    return None if v == _I64_NONE else v


def _un_hop(vals):
    return None if vals[0] == _I64_NONE else list(vals)


def _pack_counters(out: list, counters: list) -> None:
    out.append(bytes((len(counters),)))
    for n, last, nal, frozen, chops in counters:
        out.append(_CTR.pack(n, _pk_ts(last), nal, frozen, len(chops)))
        out.extend(starmap(_PAIR.pack, chops))


def _unpack_counters(blob: bytes, off: int) -> tuple[list, int]:
    n_ctr, off = blob[off], off + 1
    counters = []
    for _ in range(n_ctr):
        n, last, nal, frozen, nh = _CTR.unpack_from(blob, off)
        off += _CTR.size
        chops = [list(_PAIR.unpack_from(blob, off + 16 * j)) for j in range(nh)]
        off += 16 * nh
        counters.append([n, _un_ts(last), nal, frozen, chops])
    return counters, off


def encode_partials(
    partials: list, last_end: list | None = None, sess: list | None = None
) -> bytes:
    """One key's partials blob. ``last_end`` is the (ts, id) resume point
    of the last emitted match (``after_match`` strategies other than
    ``skip_to_next``), ``sess`` session-gap mode's cursor
    ``[last_event_ts_ns, session_ordinal]``."""
    slots = len(partials[0]) - 7 if partials else 0
    le = last_end or (_I64_NONE, _I64_NONE)
    sb = sess or (_I64_NONE, 0)
    out = [_HEAD.pack(_LAYOUT, slots, *le, *sb, len(partials))]
    for p in partials:
        nxt, limit, prev, hops, poison, pending, counters = p[:7]
        out.append(_PART.pack(nxt, limit, prev, _pk_ts(poison),
                              *(pending or _NO_HOP), len(hops)))
        for h in hops:
            out.append(_TIB.pack(*(h or _NO_HOP)))
        _pack_counters(out, counters)
        if slots:
            _pack_counters(out, p[7])
        if slots > 1:
            out.append(bytes((len(p[8]),)))
            for cap in p[8]:
                out.append(
                    b"\x00" if cap is None
                    else struct.pack(f"<BH{len(cap)}d", 1, len(cap), *cap)
                )
    return b"".join(out)


def decode_state(blob: bytes | None) -> tuple[list, list | None, list | None]:
    """-> (partials, last_end or None, sess or None), as passed to
    :func:`encode_partials`."""
    if not blob:
        return [], None, None
    if blob[0] != _LAYOUT:
        raise _fresh_checkpoint(
            f"the partials blob starts with byte {blob[0]}, not this "
            f"build's layout byte {_LAYOUT} (an older build wrote it)"
        )
    _, slots, let, lei, ls, so, n = _HEAD.unpack_from(blob, 0)
    off = _HEAD.size
    partials = []
    for _ in range(n):
        nxt, limit, prev, poison, *pending, nh = _PART.unpack_from(blob, off)
        off += _PART.size
        hops = [_un_hop(_TIB.unpack_from(blob, off + 17 * j)) for j in range(nh)]
        counters, off = _unpack_counters(blob, off + 17 * nh)
        p = [nxt, limit, prev, hops, _un_ts(poison), _un_hop(pending), counters]
        if slots:
            loops, off = _unpack_counters(blob, off)
            p.append(loops)
        if slots > 1:
            caps = []
            ncap, off = blob[off], off + 1
            for _ in range(ncap):
                if not blob[off]:
                    caps.append(None)
                    off += 1
                    continue
                (w,) = struct.unpack_from("<H", blob, off + 1)
                caps.append(list(struct.unpack_from(f"<{w}d", blob, off + 3)))
                off += 3 + 8 * w
            p.append(caps)
        partials.append(p)
    return (
        partials,
        None if let == _I64_NONE else [let, lei],
        None if ls == _I64_NONE else [ls, so],
    )


def encode_buffer(events: list, tail: list, m: int) -> bytes:
    """One key's out-of-order buffer: events ``(ts_ns, id, vocab_idx)`` in
    (ts, id) order, each followed by its ``m = len(aux_cols)`` payload
    doubles as a list when ``m > 0`` (NaN for NULL, which fails every
    comparison: SQL null semantics), plus the processed-history TAIL, the
    last max-offset events' values, so PREV crosses micro-batch
    boundaries. The blob records ``m``: a pattern with another payload
    width cannot resume it."""
    out = [struct.pack("<BB", m, len(tail))]
    if not m:
        out.extend(starmap(_TIB.pack, events))
        return b"".join(out)
    row, ev = struct.Struct(f"<{m}d"), struct.Struct(f"<qqB{m}d")
    out.extend(starmap(row.pack, tail))
    out.extend(ev.pack(t, i, v, *vals) for t, i, v, vals in events)
    return b"".join(out)


def decode_buffer(blob: bytes | None, m: int) -> tuple[list, list]:
    """-> (events, tail), as passed to :func:`encode_buffer`."""
    if not blob:
        return [], []
    m_enc, nt = blob[0], blob[1]
    if m_enc != m:
        raise _fresh_checkpoint(
            f"the buffer blob with {m_enc} nav columns does not match the "
            f"running pattern ({m})"
        )
    tail = [list(struct.unpack_from(f"<{m}d", blob, 2 + 8 * m * j))
            for j in range(nt)]
    body = memoryview(blob)[2 + 8 * m * nt:]
    if not m:
        return list(_TIB.iter_unpack(body)), tail
    return [
        (e[0], e[1], e[2], list(e[3:]))
        for e in struct.iter_unpack(f"<qqB{m}d", body)
    ], tail


# --- key-bucketed keyed state (stream CEP) ----------------------------------
# The stream matcher groups by a fixed set of hash buckets of the key, not by
# the key: one applyInPandasWithState call (and one state row) per bucket
# amortises Spark's per-group framing and the per-call pandas work over all
# of the bucket's keys — Flink's key groups. Each bucket row holds its keys'
# per-key (partials, buffer) blobs and timeouts side by side.
#
# 128 buckets is Flink's floor for its number of key groups, and it caps the
# stateful stage at 128 tasks that do work. Fewer buckets pay the per-group
# cost fewer times per batch, but would cap the parallelism lower.
#
# Changing the count moves keys to other buckets, so a checkpoint written with
# another count must not be resumed. The count recorded in each bucket row
# (checked in _advance_bucket) only catches rows that get visited: a bucket
# that sees no data and no due timeout is never read, and its keys are lost
# without an error. So any change of the count must ALSO change the grouping
# key's schema, which Spark checks for the whole state store when the query
# starts (STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE). The 1 024-bucket builds
# grouped on a bigint; this one groups on an int.

STATE_BUCKETS = 128
BUCKET_COL = "_cep_bucket"
_NO_TIMEOUT = -1  # GroupState.NO_TIMESTAMP


def _bucket_of(key_col: str) -> Column:
    """The key's state bucket, an ``int`` (see the note above
    ``STATE_BUCKETS``); null keys are filtered out before this."""
    return F.pmod(F.xxhash64(key_col), F.lit(STATE_BUCKETS)).cast("int")


class _KeyState:
    """The GroupState surface the per-key matcher uses, over one key's slot
    in its bucket row. The timeout starts unset on every call, like
    Spark's: a key keeps a timeout only if the call sets it again."""

    __slots__ = ("get", "exists", "hasTimedOut", "timeout", "_now_ms", "_wm_ms")

    def __init__(self, value, timed_out: bool, now_ms: int, wm_ms: int):
        self.get = value
        self.exists = value is not None
        self.hasTimedOut = timed_out
        self.timeout = _NO_TIMEOUT
        self._now_ms = now_ms
        self._wm_ms = wm_ms

    def update(self, value) -> None:
        self.get, self.exists = value, True

    def remove(self) -> None:
        self.get, self.exists = None, False

    def getCurrentWatermarkMs(self) -> int:
        return self._wm_ms

    def setTimeoutDuration(self, ms: int) -> None:
        self.timeout = self._now_ms + ms

    def setTimeoutTimestamp(self, ms: int) -> None:
        self.timeout = ms


def _f64(col):
    import numpy as np

    if col.dtype.kind in "fiu":
        return col.to_numpy(dtype=np.float64)
    import pandas as pd

    # nullable / decimal payloads: NULL -> NaN, every comparison False
    return np.array(
        [float("nan") if pd.isna(v) else float(v) for v in col],
        dtype=np.float64,
    )


def _bucket_events(
    pdfs,
    key_col: str,
    time_col: str,
    id_col: str,
    type_col: str,
    aux_cols=(),
) -> list:
    """One bucket's rows split per key: ``[(key, events)]`` with events
    ``(ts_ns, id, type)`` — plus the ``aux_cols`` values as a list of
    doubles (NULL -> NaN) when there are any — in (ts, id) order. One
    numpy sort for the whole bucket. Keys, ts and ids are non-null: the
    stream drops rows with a null in any of them before the shuffle."""
    import numpy as np
    import pandas as pd

    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return []
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    ts = pdf[time_col].to_numpy().astype("datetime64[ns]", copy=False).view(np.int64)
    ids = pdf[id_col].to_numpy()
    keys = pdf[key_col].to_numpy()
    if keys.dtype.kind in "iu":
        uniques, codes = np.unique(keys, return_inverse=True)
    else:
        codes, uniques = pd.factorize(keys)
    order = np.lexsort((ids, ts, codes))
    codes = codes[order]
    cols = [
        ts[order].tolist(),
        ids[order].astype(np.int64).tolist(),
        pdf[type_col].to_numpy(dtype=object)[order].tolist(),
    ]
    if aux_cols:
        vals = np.column_stack([_f64(pdf[c]) for c in aux_cols])
        cols.append(vals[order].tolist())
    events = list(zip(*cols))
    keys = uniques.tolist()
    cuts = [0, *(np.flatnonzero(codes[1:] != codes[:-1]) + 1).tolist(), len(codes)]
    return [(keys[codes[a]], events[a:b]) for a, b in zip(cuts, cuts[1:])]


def _advance_bucket(key_fn, state: GroupState, keyed: list, timeout_conf: str) -> list:
    """Advance one bucket: ``key_fn(key, events, key_state) -> rows`` runs
    once per key with data (``hasTimedOut=False``) and once, with no
    events and ``hasTimedOut=True``, per stored key without data whose
    timeout is below Spark's threshold (``tmo < watermark`` for
    EventTimeTimeout, ``tmo < batch processing time`` for
    ProcessingTimeTimeout). Keys not called keep their state and timeout.
    The bucket's own timeout is the minimum of its keys'; a bucket with no
    key left is removed. Returns the emitted rows of all keys.

    The bucket row records ``STATE_BUCKETS``: a row written with another
    bucket count routes keys elsewhere, and raises here instead of
    silently missing them. Rows never visited are fenced by the grouping
    key's schema instead (see the note above ``STATE_BUCKETS``)."""
    if state.exists:
        keys, partials, buffers, tmos, n_buckets = state.get
        if n_buckets != STATE_BUCKETS:
            raise _fresh_checkpoint(
                f"it was written with {n_buckets} key buckets, this build "
                f"uses {STATE_BUCKETS}, so keys would be looked up in the "
                "wrong bucket"
            )
    else:
        keys, partials, buffers, tmos = (), (), (), ()
    now_ms = state.getCurrentProcessingTimeMs()
    wm_ms = state.getCurrentWatermarkMs()
    threshold = {
        GroupStateTimeout.EventTimeTimeout: wm_ms,
        GroupStateTimeout.ProcessingTimeTimeout: now_ms,
    }.get(timeout_conf)
    slot = {k: j for j, k in enumerate(keys)}
    out_k, out_p, out_b, out_t = [], [], [], []
    rows: list = []
    called = set()

    def run(key, events, j, timed_out):
        ks = _KeyState(
            None if j is None else (partials[j], buffers[j]),
            timed_out, now_ms, wm_ms,
        )
        rows.extend(key_fn(key, events, ks))
        if ks.exists:
            out_k.append(key)
            out_p.append(ks.get[0])
            out_b.append(ks.get[1])
            out_t.append(ks.timeout)

    for key, events in keyed:
        j = slot.get(key)
        called.add(j)
        run(key, events, j, False)
    for j, key in enumerate(keys):
        if j in called:
            continue
        t = tmos[j]
        if threshold is not None and t != _NO_TIMEOUT and t < threshold:
            run(key, [], j, True)
        else:
            out_k.append(key)
            out_p.append(partials[j])
            out_b.append(buffers[j])
            out_t.append(t)
    if not out_k:
        if state.exists:
            state.remove()
        return rows
    state.update((out_k, out_p, out_b, out_t, STATE_BUCKETS))
    live = [t for t in out_t if t != _NO_TIMEOUT]
    if live:
        if timeout_conf == GroupStateTimeout.EventTimeTimeout:
            state.setTimeoutTimestamp(min(live))
        else:
            # a key due at exactly this batch time is not yet timed out
            # (strict <), but a duration must be positive
            state.setTimeoutDuration(max(min(live) - now_ms, 1))
    return rows


# the stream DEFINE comparators (nav_conds, cross_conds, local_conds)
_CMP = {
    "<": operator.lt, "<=": operator.le, ">": operator.gt,
    ">=": operator.ge, "=": operator.eq, "<>": operator.ne,
}


def _cmp_ok(cmp_: str, a: float, b: float) -> bool:
    """``a <cmp_> b`` over payload doubles with SQL NULL semantics: NaN
    (a NULL payload) on either side fails, ``<>`` included."""
    return a == a and b == b and _CMP[cmp_](a, b)


def match_sequence_stream(
    stream: DataFrame,
    step_values: list,
    key_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "ts",
    id_col: str = "event_id",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
    idle_timeout_ms: int | None = None,
    forbid_value: str | None = None,
    step_within: str | None = None,
    optional_steps: set[int] | None = None,
    counts: list[CountBetween] | None = None,
    ordered: bool = True,
    after_match: str = "skip_to_next",
    session_gap: str | None = None,
    strict_steps: set[int] | None = None,
    contiguous: bool = False,
    nav_conds: dict[int, list] | None = None,
    cross_conds: dict[int, list] | None = None,
    local_conds: dict[int, list] | None = None,
) -> DataFrame:
    """Streaming twin of :func:`match_sequence` via a per-key CEP state
    machine (``applyInPandasWithState``): the set of in-flight partial
    matches is the state; completed sequences are emitted as they close.
    Both twins drop the same rows: a row with a null key, ts or id never
    matches (the stream filters null keys out before its shuffle).

    ``nav_conds`` (round 8) enables PREV physical navigation in stream
    DEFINEs — the ticker pattern ``D AS value < PREV(value)`` — in
    BUFFERED mode only: ``{1-based step: [(colA, cmp, colB, n), ...]}``,
    each condition ``event.colA <cmp> (n-th previous event of the
    key).colB`` over the key's full event-time order (every event of the
    key counts as a navigation position, vocabulary or not — the batch
    twin's lag() semantics), conjoined with the step's literal vocabulary
    (use ``"*"`` as the step value for a type-free nav variable).
    Buffered events carry the referenced column values as doubles
    (NULL -> NaN, every comparison False, through the one ``_cmp_ok``
    that nav, cross and local conditions share), the last max-offset processed
    values persist in state so PREV crosses micro-batch boundaries; the
    buffer blob records how many values each event carries, and a
    checkpoint written for another count raises the fresh-checkpoint
    error. Requires
    ``ordered=False``; not composable with ``session_gap``; NEXT has no
    append-mode expression and stays batch-only.

    ``cross_conds`` (round 8) enables CROSS-VARIABLE DEFINE references —
    MATCH_RECOGNIZE's last-matched-row running semantics (``P AS value >
    V.value``, Flink's IterativeCondition; the stream twin of the batch
    :class:`CrossPred`): ``{1-based step p: [(ev_col, cmp, ref_step_j,
    ref_col), ...]}``, each condition ``candidate.ev_col <cmp> (the
    ref_col value of the event that bound step j)``, conjoined with step
    p's literal vocabulary. The referenced values are CAPTURED on the
    partial when step j binds and travel in CEP state as capture slots
    (resuming a cross-free pattern's checkpoint under a cross pattern,
    or vice versa, raises the fresh-checkpoint error). Same
    per-candidate semantics as batch: a
    failing candidate is SKIPPED and the next event tried. Values are
    numeric doubles with SQL NULL semantics (NULL/NaN fails). Works in
    BOTH delivery modes (ordered reads payload transiently from the
    micro-batch; buffered carries it through the out-of-order buffer on
    the shared payload value vector). The restrictions are the batch
    CrossPred's, from the one ``_check_cross_refs``: the conditioned
    step must be a required non-loop-body step (a loop CLOSER is fine),
    the referenced step a required non-loop step bound strictly before
    it; on an ANCHOR-position loop the check runs on the pattern as
    written, so step 1 can neither carry nor be referenced.

    ``local_conds`` (late round 8) are row-local comparisons — the
    ``P AS event_type = 'b' AND value > 10`` form: ``{1-based step p:
    [(col, cmp, rhs), ...]}`` where ``rhs`` is a numeric CONSTANT or
    (same-row column-to-column, ``clicks > views``) another COLUMN NAME
    given as a string; conjoined with the step's vocabulary and
    evaluated per candidate from the event's own payload (numeric
    doubles, SQL NULL semantics). Nothing is captured, so CEP state and
    checkpoints are untouched; any step may carry them — anchor,
    optional, loop BODY (each hop re-tested) and closer alike. Works in
    both delivery modes like ``cross_conds``.

    The three kinds are validated in one pass: each step in 1..k, each
    comparator one of ``<, <=, >, >=, =, <>``, and every column they read
    present and numeric. A nav or local condition on an ANCHOR-position
    loop applies to every hop of it.

    Delivery ordering — two modes:

    - ``ordered=True`` (default): events are processed in (ts, id) order
      WITHIN each micro-batch, but the operator assumes in-order per-key
      delivery ACROSS micro-batches. That assumption is STRONGER than what
      a watermark guarantees: a late event that is within the declared
      lateness (which the watermark admits) arrives after later-ts events
      have already advanced or expired partials, and matches the batch
      operator finds can be silently missed. Use this mode when the source
      is per-key ordered (e.g. a Kafka partition per key, or replayed
      ts-ordered files); it emits with no watermark delay.
    - ``ordered=False``: true watermark semantics. Incoming events are
      buffered in state and only processed — in (ts, id) order — once the
      watermark has passed them, so ANY disorder within the declared
      lateness yields exactly the batch operator's matches (pinned by
      tests/test_streaming.py::test_match_sequence_stream_out_of_order).
      Emission waits for the watermark (like any append-mode event-time
      operator) and the query uses ``EventTimeTimeout`` no-data callbacks
      to drain the buffer; ``idle_timeout_ms`` is not available in this
      mode (expired partials and drained keys are evicted by watermark
      instead, so state stays bounded without it).

    The stream variant matches ``type_col`` against literal ``step_values``
    (the common CEP case) rather than arbitrary predicates — state must be
    serializable, predicates are not. A step value may be a TUPLE of
    literals — alternation ``A (B|C) D``, mirroring the batch matcher's
    predicate-list steps: the step matches any value in the tuple and the
    output adds ``branch_k`` (the 0-based tuple position that matched).
    A step value may also be a :class:`LoopStep` (with ``value=`` set) —
    the Kleene ``A B+ C`` pattern step, mirroring the batch steps list:
    loop hops accumulate in per-partial loop slots and the same greedy
    closer-priority /
    same-tick-backout semantics apply, emitting ``n_<name>`` plus the
    first/last (and ``bind="all"`` id-array) measures. A FINAL-position
    LoopStep (``A B+``, no closer) emits when the WATERMARK passes the
    anchor horizon — or, with ``session_gap``, when the session closes
    (boundary event or watermark past the gap deadline) — and therefore
    requires ``ordered=False``; ``forbid_value`` and any non-default
    ``after_match`` are rejected with it (no final matched row to negate
    or skip past). ``after_match`` mirrors the batch twin's full AFTER
    MATCH SKIP family — ``skip_to_next`` (default), ``skip_past_last``,
    and the positional ``skip_to_first:<pos>`` / ``skip_to_last:<pos>``
    (inclusive resume at the bound row; the same ``_check_pattern``
    target constraints) — with
    the resume point carried in the state header across micro-batches.
    For the same reason
    ``optional_steps`` (same no-lookahead greedy rule as batch: the
    optional is taken iff its earliest candidate precedes the closer's)
    and ``counts`` (:class:`CountBetween` with ``value=`` set; ``bind=True``
    additionally emits the loop's first/last hop columns, recorded in
    state) mirror the batch parameters by literal value. State is a
    compact fixed-width binary column with one layout (see
    ``encode_partials``; a checkpoint of an older layout, or of a pattern
    with other loop or capture slots, raises one targeted
    fresh-checkpoint ``ValueError``); partials expire as soon as
    processing passes their anchor window, so state per key is bounded by
    anchors-per-window (+ the not-yet-finalized buffer in
    ``ordered=False`` mode, bounded by events within the watermark
    lateness).

    ``session_gap`` is the streaming twin of
    :func:`match_sequence_sessionized`: instead of (or on top of) the
    fixed ``within`` horizon, a pattern must complete inside one SESSION —
    sessions split when the key goes quiet for more than the gap, and ANY
    event (any ``type_col`` value, not just pattern vocabulary) keeps the
    session alive. Requires ``ordered=False``: only the buffered mode sees
    the key's true event-time order, which gap semantics need (a late
    keepalive inside the watermark can BRIDGE a would-be split — pinned).
    The output gains a ``session_id`` column (the per-key session ordinal,
    matching the batch labeler). Pass ``within="3650 days"`` to reproduce
    the batch twin's inert default horizon. State additionally holds the
    session keepalive cursor + ordinal (in the state header); in-flight
    partials die at every session boundary and when the WATERMARK passes
    the open session's gap deadline, so state per key is bounded by
    anchors-per-session + the watermark buffer. Cost relative to plain
    buffered mode: every event of the key (not just vocabulary types)
    transits the buffer — the price of "any event keeps the session
    alive".

    Scale note: keyed state is KEY-BUCKETED. The operator groups by the
    ``int`` ``_cep_bucket = pmod(xxhash64(key_col), STATE_BUCKETS)`` (128
    hash buckets, Flink's key groups), not by the key, so Spark's
    per-group framing and the per-call pandas work are paid once per
    bucket, not once per key: each call sorts the bucket's
    rows once with numpy, splits them per key, runs the per-key machine
    for every key with data and for every key whose own timeout fell
    below Spark's threshold (the watermark, or the batch processing time
    with ``idle_timeout_ms``), and emits one frame. The bucket count caps
    the stateful stage at 128 busy tasks, whatever the shuffle partitions.
    A bucket's state row holds its keys' per-key ``(partials, buffer)``
    blobs and timeouts, so ``numRowsTotal`` in the state-operator progress
    counts buckets, not keys. Rows with a null key, ts or id are dropped
    before the shuffle. The row also records the bucket count, and a
    visited row written with another count raises a targeted
    fresh-checkpoint ``ValueError``. A restart from a checkpoint of the
    1 024-bucket builds, which grouped on a ``bigint``, fails at query
    start with Spark's ``STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE``, before
    any batch runs, so no key is lost silently; restart such queries from
    a fresh checkpoint location. Checkpoints of the earlier per-key layout
    (one ``partials, buffer`` row per key) fail Spark's state-schema check
    on restart too. The state machine itself still
    advances PER EVENT in Python — fine for the per-key event rates a
    watermarked stream implies, but a single key sustaining very high
    rates on a continuous job will bottleneck on that loop; the batch
    twin is pure join algebra, so bursty backfills should replay through
    :func:`match_sequence` instead.

    ``forbid_value`` is the negation twin of batch ``forbid``: an event of
    that type POISONS every in-flight partial whose anchor precedes it
    (recorded as the earliest poison time); at completion the match is
    emitted only if no poison falls strictly inside (anchor, final step) —
    the same open-interval boundary semantics as the batch anti join,
    including the same-timestamp edge (a poison at exactly the final
    step's time does not kill).

    ``strict_steps`` / ``contiguous`` mirror the batch twin: a strict
    step must be matched by the key's very NEXT event after the previous
    matched step — any intervening event (ANY ``type_col`` value,
    vocabulary or not) kills the partial.  Because "any event" includes
    non-vocabulary types, buffered (``ordered=False``) mode transits ALL
    events through the buffer when strict steps are present — the same
    discipline (and per-event cost) as ``session_gap``; ordered mode
    already sees every event.  Same constraints as batch, from the one
    ``_check_pattern``: the anchor, a loop/optional, or the step right
    after one cannot be strict."""
    import numpy as np
    import pandas as pd

    if idle_timeout_ms is not None and idle_timeout_ms <= 0:
        raise ValueError(
            f"idle_timeout_ms must be a positive number of milliseconds, "
            f"got {idle_timeout_ms}"
        )
    if any(isinstance(s, CrossPred) for s in step_values):
        raise ValueError(
            "CrossPred objects carry JVM Column predicates and are "
            "batch-only — on the stream path express the cross-variable "
            "comparison with cross_conds= ({step: [(ev_col, cmp, ref_step, "
            "ref_col), ...]}) over numeric payload columns"
        )
    strict = frozenset(strict_steps or ()) | (
        frozenset(range(2, len(step_values) + 1)) if contiguous else frozenset()
    )
    if step_values and isinstance(step_values[0], LoopStep):
        # ANCHOR-position loop — same desugar as the batch twin: the
        # first hop anchors a plain step, the rest ride the middle/final
        # loop machinery, and the projection folds the anchor back into
        # the measures.  The state layout is the usual one (the inner
        # call sees an ordinary loop-bearing pattern).
        sp0 = step_values[0]
        if sp0.value is None:
            raise ValueError(
                "stream LoopStep needs value= (literal type or tuple)"
            )
        # the desugar would silently remap a cross reference to step 1
        # onto the extracted first rep — but the user's step 1 is the
        # LOOP, which binds no single row: check the pattern as written
        _check_cross_refs(
            {int(p): {int(c[2]) for c in cs}
             for p, cs in (cross_conds or {}).items()},
            {j + 1 for j, s in enumerate(step_values)
             if isinstance(s, LoopStep)},
            set(optional_steps or ()),
        )
        inner, shifted = _anchor_loop_args(
            step_values, optional_steps, strict, counts, after_match
        )
        # a condition on the anchor loop (p == 1) applies to the extracted
        # first rep AND the residual loop body, so every hop of the user's
        # loop is tested; cross references shift like their steps
        for name, conds in (("nav_conds", nav_conds),
                            ("cross_conds", cross_conds),
                            ("local_conds", local_conds)):
            shifted[name] = {
                q: [(*c[:2], _shift_pos(c[2]), c[3])
                    if name == "cross_conds" else c for c in cs]
                for p, cs in (conds or {}).items()
                for q in ((1, 2) if p == 1 else (_shift_pos(p),))
            } or None
        out = match_sequence_stream(
            stream,
            [sp0.value, inner, *step_values[1:]],
            key_col=key_col,
            type_col=type_col,
            time_col=time_col,
            id_col=id_col,
            within=within,
            watermark=watermark,
            idle_timeout_ms=idle_timeout_ms,
            forbid_value=forbid_value,
            step_within=step_within,
            ordered=ordered,
            session_gap=session_gap,
            **shifted,
        )
        return _anchor_loop_project(out, sp0.name, sp0.bind)
    k = len(step_values)
    if k < 2:
        raise ValueError("match_sequence_stream needs at least 2 steps")
    # normalize alternation: every step is a tuple of acceptable literals;
    # LoopStep entries mirror the batch steps list (value= instead of
    # pred=, like step_values vs steps)
    loop0: dict = {}  # 0-based index -> (values, min_n, max_n, bind, name)
    stepsets = []
    for j, v in enumerate(step_values):
        if isinstance(v, LoopStep):
            if v.value is None:
                raise ValueError(
                    "stream LoopStep needs value= (literal type or tuple)"
                )
            vals = (v.value,) if isinstance(v.value, str) else tuple(v.value)
            loop0[j] = (vals, v.min_n, v.max_n, v.bind, v.name,
                        v.greedy)
            stepsets.append(vals)
        else:
            stepsets.append((v,) if isinstance(v, str) else tuple(v))
    if any(not ss for ss in stepsets):
        raise ValueError("an alternation step needs >= 1 value")
    alt = [len(ss) > 1 and j not in loop0 for j, ss in enumerate(stepsets)]
    loops = {j + 1: step_values[j] for j in loop0}
    opt = set(optional_steps or ())
    specs = list(counts or ())
    for spec in specs:
        if spec.value is None:
            raise ValueError("stream CountBetween needs value= (literal type)")
    skip_mode, skip_target = _check_pattern(
        k, loops, opt, strict, step_within, forbid_value is not None,
        after_match, specs,
    )
    if k in loops and ordered:
        # a FINAL loop's emission is DEADLINE-driven (the anchor horizon
        # or the session bound), which only the watermark machinery of
        # buffered mode can observe — a tail partial would hang
        raise ValueError(
            "a FINAL LoopStep requires ordered=False: its emission "
            "is deadline-driven (anchor horizon / session bound), "
            "which needs the buffered mode's watermark finality"
        )
    for j in opt:
        if set(stepsets[j - 1]) & set(stepsets[j]):
            raise ValueError(
                "an optional step's value(s) must be disjoint from its "
                "closer's"
            )
    # DEFINE conditions, validated in one pass. nav (PREV navigation):
    # step p's event.<colA> <cmp> the n-th previous event's <colB>; cross
    # (the stream twin of the batch CrossPred, MATCH_RECOGNIZE's
    # last-matched-row running semantics `P AS value > V.value`):
    # event.<ev_col> <cmp> the <ref_col> value captured when step j bound,
    # riding the partial's capture slots; local: event.<col> <cmp> a
    # constant or another column of the same row, nothing captured.
    # Values are doubles compared through _cmp_ok (NaN/NULL fails).
    nav, cross, loc = (
        {int(p): [tuple(c) for c in cs] for p, cs in (given or {}).items()}
        for given in (nav_conds, cross_conds, local_conds)
    )
    aux_set: set = set()
    for kind, conds in (("nav", nav), ("cross", cross), ("local", loc)):
        for p, cs in conds.items():
            if not 1 <= p <= k:
                raise ValueError(f"{kind}_conds step {p} out of range")
            for c in cs:
                if c[1] not in _CMP:
                    raise ValueError(
                        f"{kind} comparator {c[1]!r} unsupported (use "
                        f"{sorted(_CMP)})"
                    )
                # the other operand's column: nav's PREV column, cross's
                # captured column, local's rhs when it names a column
                rhs = c[3] if kind == "cross" else c[2]
                aux_set.update((c[0], rhs) if isinstance(rhs, str) else (c[0],))
    if nav:
        if ordered:
            raise ValueError(
                "nav_conds (PREV navigation) requires ordered=False — "
                "physical navigation needs the key's true event-time "
                "order, which only the buffered mode reconstructs"
            )
        if session_gap is not None:
            raise ValueError(
                "nav_conds cannot be combined with session_gap (the "
                "keepalive fast path bypasses per-event classification)"
            )
        if not all(1 <= int(c[3]) <= 4 for cs in nav.values() for c in cs):
            raise ValueError(
                "PREV offset must be 1..4 on the stream path "
                "(bounded history in state)"
            )
    _check_cross_refs(
        {p: {int(c[2]) for c in cs} for p, cs in cross.items()}, loops, opt
    )
    loc = {
        p: [(col, cmp_, rhs if isinstance(rhs, str) else float(rhs))
            for col, cmp_, rhs in cs]
        for p, cs in loc.items()
    }
    # shared payload transport: buffered events carry ONE value vector
    # over the union of nav, cross and local columns
    aux_cols = sorted(aux_set)
    missing = [c for c in aux_cols if c not in stream.columns]
    if missing:
        raise ValueError(
            f"condition column(s) {missing} not in the stream schema"
        )
    aux = bool(aux_cols)
    aux_ci = {c: j for j, c in enumerate(aux_cols)}
    if aux:
        from pyspark.sql.types import NumericType

        non_num = [
            c for c in aux_cols
            if not isinstance(stream.schema[c].dataType, NumericType)
        ]
        if non_num:
            raise ValueError(
                f"nav/cross/local column(s) {non_num} are not numeric — the "
                "stream payload transport carries doubles only (compare "
                "event times via within=/step_within= instead of a ts "
                "cross reference; the batch path supports ts refs "
                "directly)"
            )
    nav_maxoff = max(
        (int(cond[3]) for cs in nav.values() for cond in cs), default=0
    )
    nav_pos = sorted(nav)  # 1-based steps carrying nav conditions
    nav_slot0 = {p - 1: s for s, p in enumerate(nav_pos)}
    cap_cols: dict[int, list] = {}
    for cs in cross.values():
        for _ca, _cmp, j, cb in cs:
            cap_cols.setdefault(int(j), set()).add(cb)
    cap_cols = {j: sorted(v) for j, v in cap_cols.items()}
    cap_steps = sorted(cap_cols)  # 1-based steps whose payload is captured
    cap_slot = {j: s for s, j in enumerate(cap_steps)}
    capcol_idx = {
        (j, c): i for j in cap_steps for i, c in enumerate(cap_cols[j])
    }
    for j, ss in enumerate(stepsets):
        if "*" in ss:
            if len(ss) > 1:
                raise ValueError(
                    f"step {j + 1}: the '*' wildcard value cannot share an "
                    "alternation with literals"
                )
            if (
                (j + 1) not in nav and (j + 1) not in cross
                and (j + 1) not in loc
            ):
                raise ValueError(
                    f"step {j + 1}: the '*' wildcard value needs a nav, "
                    "cross or local condition (a type-free step would "
                    "match every event)"
                )
    if not ordered and idle_timeout_ms is not None:
        raise ValueError(
            "idle_timeout_ms requires ordered=True (buffered mode evicts by "
            "watermark via EventTimeTimeout)"
        )
    if session_gap is not None and ordered:
        raise ValueError(
            "session_gap requires ordered=False: gap semantics need the "
            "key's true event-time order (a late keepalive can bridge a "
            "would-be session split), which only the buffered mode sees"
        )
    opt0 = {j - 1 for j in opt}  # 0-based indices of optional steps
    out_typed = _out_columns(
        [key_col], k, loops, alt, specs, session_gap is not None
    )
    if key_col not in stream.columns:
        raise ValueError(f"key column {key_col!r} not in the stream schema")
    key_ddl = stream.schema[key_col].dataType.simpleString()
    out_typed[0] = (key_col, key_ddl, None)
    out_ddl = ", ".join(f"{n} {t}" for n, t, _ in out_typed)
    within_ns = pd.Timedelta(within).value
    step_ns = pd.Timedelta(step_within).value if step_within else None
    # vocabulary for the out-of-order buffer: only events whose type can
    # touch the machine are buffered at all
    vocab = list(dict.fromkeys(
        [v for ss in stepsets for v in ss if v != "*"]
        + ([forbid_value] if forbid_value is not None else [])
        + [spec.value for spec in specs]
    ))
    vidx = {v: j for j, v in enumerate(vocab)}
    # a '*' step matches NON-vocabulary events too (validated above to
    # carry a nav/cross/local condition) — the buffered admission filter
    # must then keep every event, like the nav/session/strict modes
    has_wild = any("*" in ss for ss in stepsets)
    KEEPALIVE = 255  # buffer sentinel: non-vocabulary event (session/strict)
    gap_ns = pd.Timedelta(session_gap).value if session_gap else None
    # buffered admission keeps EVERY event of the key (non-vocabulary ones
    # as keepalives) when navigation counts every event as a position,
    # the session/strict modes need every event as keepalive/killer, or
    # a '*' wildcard step can bind non-vocabulary events
    keep_all = bool(gap_ns is not None or strict or nav or has_wild)
    if keep_all and len(vocab) >= KEEPALIVE:
        raise ValueError(
            "session_gap / strict_steps / nav modes support at most 254 "
            "vocabulary values"
        )

    def _okv(vals, j0, typ, flags, cvals):
        """Step eligibility: literal vocabulary AND the step's nav
        conditions (precomputed per event at drain time) AND its
        row-local comparisons (``local_conds`` — evaluated on the event's
        aux value vector)."""
        if "*" not in vals and (typ is None or typ not in vals):
            return False
        if j0 in nav_slot0 and not flags[nav_slot0[j0]]:
            return False
        ls = loc.get(j0 + 1)
        if ls:
            for col, cmp_, rhs in ls:
                b = cvals[aux_ci[rhs]] if isinstance(rhs, str) else rhs
                if not _cmp_ok(cmp_, cvals[aux_ci[col]], b):
                    return False
        return True

    def _bidx(j0, typ):
        ss = stepsets[j0]
        return ss.index(typ) if typ is not None and typ in ss else 0

    def _okx(j0, tail, cvals):
        """Cross-variable eligibility of step ``j0+1``: the candidate's
        payload vs the partial's captured prior-step values (``tail[-1]``
        is the caps slot — guaranteed last when cross is active)."""
        cs = cross.get(j0 + 1)
        if not cs:
            return True
        caps = tail[-1]
        for ca, cmp_, j, cb in cs:
            ref = caps[cap_slot[j]]
            if ref is None or not _cmp_ok(
                cmp_, cvals[aux_ci[ca]], ref[capcol_idx[(j, cb)]]
            ):
                return False
        return True
    # plain-tuple copies for the executor closures: CountBetween.pred is
    # a JVM Column handle and must not be captured by cloudpickle
    sp = [
        (s_.value, s_.lo_step, s_.hi_step, s_.min_n, s_.max_n, s_.bind)
        for s_ in specs
    ]

    loop_slot = {j: pos for pos, j in enumerate(sorted(loop0))}

    n_slots = 2 if cross else 1 if loop0 else 0
    slot_kinds = (
        "no loop slots and no cross-variable capture slots",
        "loop slots but no cross-variable capture slots",
        "loop and cross-variable capture slots",
    )

    def _check_shape(partials):
        """Loop and capture slots are pattern-bound state: a checkpoint
        whose partials carry another pattern's slots cannot resume. One
        pattern wrote every partial of a blob, so the first one tells."""
        if not partials:
            return
        p = partials[0]
        got = len(p) - 7
        if got != n_slots:
            raise _fresh_checkpoint(
                f"its partials carry {slot_kinds[got]}, the running pattern "
                f"needs {slot_kinds[n_slots]}"
            )
        if got and len(p[7]) != len(loop0):
            raise _fresh_checkpoint(
                f"its partials carry {len(p[7])} loop slots, the running "
                f"pattern has {len(loop0)} loop steps"
            )
        if got > 1 and len(p[8]) != len(cap_steps):
            raise _fresh_checkpoint(
                f"its partials carry {len(p[8])} cross-variable capture "
                f"slots, the running pattern has {len(cap_steps)} capture "
                "steps"
            )

    def _complete(p, t, rows, key_val, hops, sess_ord=None):
        """Emit if the poison/count constraints hold (called at final hop);
        returns whether a row was emitted."""
        _, _, _, _, poison, _, counters = p[:7]
        if poison is not None and poison < t:
            return False
        vals = []
        for (n, _last, _nal, _frozen, chops), (_v, _lo, _hi, mn, mx, bind) in zip(
            counters, sp
        ):
            if n < mn or (mx is not None and n > mx):
                return False
            vals.append(n)
            if bind:
                first = chops[0] if chops else (None, None)
                last_h = chops[-1] if chops else (None, None)
                vals.extend((first[0], first[1], last_h[0], last_h[1]))
                if bind == "all":
                    vals.append([h[1] for h in chops])
        seq_vals = []
        for j, h in enumerate(hops):
            if j in loop0:
                _lv, _lmn, _lmx, lbind, _lnm, _lg = loop0[j]
                ln_, _, _, _, lh = p[7][loop_slot[j]]
                seq_vals.append(ln_)
                if lbind:
                    fh = lh[0] if lh else (None, None)
                    lh_ = lh[-1] if lh else (None, None)
                    seq_vals.extend((fh[0], fh[1], lh_[0], lh_[1]))
                    if lbind == "all":
                        seq_vals.append([h2[1] for h2 in lh])
                continue
            trip = h if h is not None else (None, None, None)
            seq_vals.extend(trip[:3] if alt[j] else trip[:2])
        head = (key_val,) if sess_ord is None else (key_val, sess_ord)
        rows.append((*head, *seq_vals, *vals))
        return True

    final_loop = (k - 1) in loop0
    # AFTER MATCH SKIP bookkeeping: skip_incl marks the inclusive modes
    # (skip_to_first/last — the skip row itself may anchor the next match)
    # vs skip_past_last's strictly-after resume point
    skip_incl = skip_mode in ("first", "last")

    def _skip_point(p, hops):
        """The (ts, id) resume point of a just-completed match under the
        active skip strategy (never called for skip_to_next)."""
        if skip_mode == "past_last":
            return list(hops[-1][:2])
        if (skip_target - 1) in loop0:
            fin = p[7][loop_slot[skip_target - 1]][4]
            return list(fin[0] if skip_mode == "first" else fin[-1])
        return list(hops[skip_target - 1][:2])

    def _finalize_loop(p, rows, key_val, sess_ord=None):
        """Deadline/session-close emission for a FINAL-position loop: the
        partial sits at the loop (every earlier step matched); emit iff at
        least min_n hops accrued, measures capped at max_n. All hops are
        final by construction — hops only accumulate while the partial is
        alive (t <= limit) and strictly before any session boundary, and
        finalization fires exactly when the deadline passes, so no
        same-tick backout is needed."""
        if p[0] != k - 1:
            return  # pattern prefix incomplete — the partial just dies
        _lv, lmn, lmx, lbind, _lnm, _lg = loop0[k - 1]
        sl = loop_slot[k - 1]
        n_, _last, _nal, _fz, lh_ = p[7][sl]
        if n_ < lmn:
            return
        ncap_ = n_ if lmx is None else min(n_, lmx)
        loops = list(p[7])
        loops[sl] = [ncap_, None, 0, 1, lh_[:ncap_] if lbind else []]
        q = [k, p[1], p[2], p[3] + [None], p[4], p[5], p[6], loops]
        _complete(q, p[1] + 1, rows, key_val, q[3], sess_ord)

    def _process(partials, events, rows, key_val, last_end=None, sess=None):
        """Advance the machine over ``(ts, id, type, nav flags, payload
        values)`` events in (ts, id) order (flags and values are empty
        tuples when the pattern has no nav or no payload);
        returns (partials, last_end, sess) where last_end is the final
        (ts, id) of the last EMITTED match (skip_past_last bookkeeping)
        and sess is session-gap mode's [last_event_ts, ordinal] cursor."""
        for t, i, typ, flags, cvals in events:
            if gap_ns is not None:
                # gap sessionization: ANY event keeps the session alive;
                # a gap > session_gap kills every in-flight partial (the
                # pattern cannot complete across a session boundary)
                if sess is None:
                    sess = [t, 1]
                elif t > sess[0] + gap_ns:
                    if final_loop:
                        # the session bound closes a final loop: emit its
                        # survivors under the CLOSING session's ordinal
                        for p in partials:
                            _finalize_loop(p, rows, key_val, sess[1])
                    partials = []
                    sess = [t, sess[1] + 1]
                else:
                    sess[0] = t
                if typ is None:
                    if strict:
                        # a keepalive is still an EVENT: it kills any
                        # partial waiting at a strict step
                        partials = [
                            p for p in partials
                            if not (p[0] + 1 in strict and t > p[2])
                        ]
                    continue  # keepalive: sessionization (+ strict kill) only
            keep = []
            end_moved = False
            for p in partials:
                nxt, limit, prev_t, hops, poison, pending, counters = p[:7]
                tail = list(p[7:])  # loop slots (present iff loop0)
                if t > limit:
                    # processing is in event-time order: the partial is
                    # final — a deadline-closed FINAL loop emits here
                    if final_loop:
                        _finalize_loop(
                            p, rows, key_val,
                            sess[1] if gap_ns is not None else None,
                        )
                    continue
                advanced = None
                if nxt in opt0:
                    closer = nxt + 1
                    if (_okv(stepsets[nxt], nxt, typ, flags, cvals)
                            and t > prev_t and pending is None):
                        pending = [t, i, _bidx(nxt, typ)]
                        p = [nxt, limit, prev_t, hops, poison, pending,
                             counters, *tail]
                    elif (_okv(stepsets[closer], closer, typ, flags,
                               cvals)
                          and t > prev_t
                          and (not cross or _okx(closer, tail, cvals))):
                        took = pending is not None and pending[0] < t
                        hops = hops + [
                            pending if took else None,
                            [t, i, _bidx(closer, typ)],
                        ]
                        advanced = closer + 1
                elif nxt in loop0:
                    # Kleene loop. Reluctant (default): closer-priority
                    # when the (same-tick backed-out) count is already
                    # sufficient, else consume as a loop hop (capped at
                    # max_n; excess neither extends nor poisons).
                    # Greedy: hop-priority — a body-matching event is
                    # consumed as a hop while the ts-strict count is
                    # under max_n (the batch twin counts strictly-before
                    # by timestamp, so the greedy cap must too), and only
                    # then may a dual-matching event close. A FINAL loop
                    # has no closer — only the hop arm applies; it closes
                    # at its deadline via _finalize_loop instead.
                    lvals, lmn, lmx, lbind, _lnm, lgreedy = loop0[nxt]
                    sl = loop_slot[nxt]
                    n_, last_, nal_, _fz, lh_ = tail[0][sl]
                    closer = nxt + 1
                    eff = n_ - (nal_ if last_ == t else 0)
                    hop_ok = (
                        _okv(lvals, nxt, typ, flags, cvals)
                        and t > prev_t
                        and (lmx is None or (eff if lgreedy else n_) < lmx)
                    )
                    close_ok = (
                        closer < k
                        and _okv(stepsets[closer], closer, typ, flags,
                                 cvals)
                        and t > prev_t
                        and eff >= lmn
                        and not (lgreedy and hop_ok)
                        and (not cross or _okx(closer, tail, cvals))
                    )
                    if close_ok:
                        ncap_ = eff if lmx is None else min(eff, lmx)
                        fin = (
                            [h for h in lh_ if h[0] != t][:ncap_]
                            if lbind
                            else []
                        )
                        new_loops = list(tail[0])
                        new_loops[sl] = [ncap_, None, 0, 1, fin]
                        tail = [new_loops, *tail[1:]]
                        hops = hops + [
                            None,  # loop steps emit no ts/id hop
                            [t, i, _bidx(closer, typ)],
                        ]
                        advanced = closer + 1
                    elif hop_ok:
                        new_loops = list(tail[0])
                        new_loops[sl] = [
                            n_ + 1, t, (nal_ + 1 if last_ == t else 1), 0,
                            lh_ + [[t, i]] if lbind else lh_,
                        ]
                        p = [nxt, limit, prev_t, hops, poison, pending,
                             counters, new_loops, *tail[1:]]
                elif (
                    _okv(stepsets[nxt], nxt, typ, flags, cvals)
                    and t > prev_t
                    and (step_ns is None or t <= prev_t + step_ns)
                    and (not cross or _okx(nxt, tail, cvals))
                ):
                    hops = hops + [[t, i, _bidx(nxt, typ)]]
                    advanced = nxt + 1
                if advanced is not None:
                    if cross and advanced in cap_slot:
                        # the step just bound (1-based == advanced) is a
                        # capture source: stash the candidate's referenced
                        # payload values on the partial (copy-on-write)
                        ncaps = list(tail[-1])
                        ncaps[cap_slot[advanced]] = [
                            cvals[aux_ci[c]] for c in cap_cols[advanced]
                        ]
                        tail = [*tail[:-1], ncaps]
                    # freeze specs whose hi_step is the step just matched:
                    # events at exactly t are outside the open interval, so
                    # equal-ts events counted earlier this tick are backed out
                    counters = [list(c) for c in counters]
                    for j, (_v, _lo, hi_s, _mn, _mx, _bd) in enumerate(sp):
                        if hi_s == advanced and not counters[j][3]:
                            n, last, nal, _, chops = counters[j]
                            counters[j] = [
                                n - (nal if last == t else 0), None, 0, 1,
                                [h for h in chops if h[0] != t],
                            ]
                    p = [advanced, limit, t, hops, poison, None, counters,
                         *tail]
                    if advanced == k:
                        if skip_mode != "next":
                            a = tuple(hops[0][:2])
                            if last_end is not None and (
                                a < tuple(last_end)
                                if skip_incl
                                else a <= tuple(last_end)
                            ):
                                continue  # anchor consumed by a prior match
                            so = sess[1] if gap_ns is not None else None
                            if _complete(p, t, rows, key_val, hops, so):
                                last_end = _skip_point(p, hops)
                                end_moved = True
                        else:
                            _complete(p, t, rows, key_val, hops,
                                      sess[1] if gap_ns is not None else None)
                        continue  # completed — this match attempt ends here
                if (
                    strict
                    and advanced is None
                    and nxt + 1 in strict
                    and t > prev_t
                ):
                    # strict step: the key's next event (this one — any
                    # type, including non-vocabulary keepalives in
                    # buffered mode) did not match it, so the partial dies
                    continue
                keep.append(p)
            partials = keep
            if end_moved:
                # partials anchored before the emitted match's resume point
                # can never emit under a skip strategy — drop them (the
                # skip row itself stays eligible under the inclusive modes)
                le = tuple(last_end)
                partials = [
                    q for q in partials
                    if (tuple(q[3][0][:2]) >= le if skip_incl
                        else tuple(q[3][0][:2]) > le)
                ]
            if forbid_value is not None and typ == forbid_value:
                for p in partials:
                    # anchor strictly before the poison; earliest wins
                    if p[3][0][0] < t and p[4] is None:
                        p[4] = t
            for p in partials:
                # open counters: events strictly after the lo hop, while the
                # hi step is unmatched (frozen handles the close boundary)
                for j, (val, lo_s, _hi, _mn, _mx, bind) in enumerate(sp):
                    n, last, nal, frozen, chops = p[6][j]
                    if (
                        not frozen
                        and typ == val
                        and len(p[3]) >= lo_s
                        and t > p[3][lo_s - 1][0]
                    ):
                        p[6][j] = [
                            n + 1, t, nal + 1 if last == t else 1, 0,
                            chops + [[t, i]] if bind else chops,
                        ]
            if _okv(stepsets[0], 0, typ, flags, cvals) and not (
                skip_mode != "next"
                and last_end is not None
                and ((t, i) < tuple(last_end) if skip_incl
                     else (t, i) <= tuple(last_end))
            ):
                caps0 = None
                if cross:
                    caps0 = [None] * len(cap_steps)
                    if 1 in cap_slot:
                        caps0[cap_slot[1]] = [
                            cvals[aux_ci[c]] for c in cap_cols[1]
                        ]
                partials.append(
                    [1, t + within_ns, t,
                     [[t, i, _bidx(0, typ)]], None, None,
                     [[0, None, 0, 0, []] for _ in sp],
                     *([[[0, None, 0, 0, []] for _ in loop0]]
                       if n_slots else []),
                     *([caps0] if cross else [])]
                )
        return partials, last_end, sess

    def _emit(rows):
        # column by column: ns timestamps without a null view as
        # datetime64 directly, instead of a to_datetime pass per column
        out = {}
        for (c, _, cv), vals in zip(out_typed, zip(*rows)):
            if cv == "datetime":
                out[c] = (
                    pd.to_datetime(pd.Series(vals, dtype="Int64"))
                    if None in vals
                    else np.array(vals, dtype=np.int64).view("datetime64[ns]")
                )
            elif cv is not None:
                out[c] = pd.array(vals, dtype=cv)
            else:
                out[c] = list(vals)
        return pd.DataFrame(out, copy=False)

    def _fn_ordered(key_val, events, state):
        if state.hasTimedOut:
            state.remove()
            return []
        partials, last_end, _ = (
            decode_state(state.get[0]) if state.exists else ([], None, None)
        )
        _check_shape(partials)
        rows: list = []
        # ordered mode has no nav flags and reads the cross/local payload
        # transiently (events are never buffered)
        events = [(t, i, ty, (), v[0] if v else ()) for t, i, ty, *v in events]
        partials, last_end, _ = _process(
            partials, events, rows, key_val, last_end
        )
        if partials:
            state.update((encode_partials(partials, last_end), b""))
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(idle_timeout_ms)
        elif state.exists:
            # no in-flight partials: drop the state entry instead of keeping
            # an empty tombstone per key forever (a continuous job would
            # otherwise grow state with every key ever seen)
            state.remove()
        return rows

    def _fn_buffered(key_val, events, state):
        if state.exists:
            partials, last_end, sess = decode_state(state.get[0])
            _check_shape(partials)
            buffer, tail = decode_buffer(state.get[1], len(aux_cols))
        else:
            partials, buffer, tail, last_end, sess = [], [], [], None, None
        wm_ms = state.getCurrentWatermarkMs()
        wm_ns = wm_ms * 1_000_000
        # vocabulary events (every event under keep_all), each with its
        # payload values when the pattern has any
        buffer.extend(
            (t, i, vidx.get(typ, KEEPALIVE), *vals)
            for t, i, typ, *vals in events
            if keep_all or typ in vidx
        )
        buffer.sort(key=lambda e: (e[0], e[1]))
        # watermark finality: only events strictly older than the watermark
        # can no longer be preceded by a straggler — process those, keep the
        # rest buffered until a later batch (or no-data callback) advances it
        if aux:
            # classify at DRAIN time (event-time order): each event's nav
            # flags come from the previously PROCESSED events' values —
            # `tail` persists the last max-offset values across batches.
            # NaN/None on either side fails the comparison (SQL NULL
            # semantics for the lowered predicate). Cross values ride the
            # same vector and are evaluated per-partial inside _process.
            ready = []
            for t, i, v, vals in buffer:
                if t >= wm_ns:
                    break
                fl = tuple(
                    all(
                        len(tail) >= n
                        and _cmp_ok(cmp_, vals[aux_ci[ca]], tail[-n][aux_ci[cb]])
                        for ca, cmp_, cb, n in nav[p_]
                    )
                    for p_ in nav_pos
                )
                typ_ = vocab[v] if v != KEEPALIVE else None
                ready.append((t, i, typ_, fl, vals))
                if nav_maxoff:
                    tail.append(list(vals))
                    if len(tail) > nav_maxoff:
                        del tail[0]
            buffer = buffer[len(ready):]
        else:
            ready = [
                (t, i, vocab[v] if v != KEEPALIVE else None, (), ())
                for t, i, v in buffer
                if t < wm_ns
            ]
            buffer = [e for e in buffer if e[0] >= wm_ns]
        rows: list = []
        partials, last_end, sess = _process(
            partials, ready, rows, key_val, last_end, sess
        )
        # a partial whose window closed before the watermark can never
        # advance again (any future event has ts >= watermark > limit) —
        # for a FINAL loop that deadline IS the close signal: emit, then drop
        dead = [p for p in partials if p[1] < wm_ns] if final_loop else []
        partials = [p for p in partials if p[1] >= wm_ns]
        if gap_ns is not None and sess is not None and wm_ns > sess[0] + gap_ns:
            # the open session's gap deadline passed the watermark: no
            # event can arrive that keeps it alive, so its partials are dead
            # (for a FINAL loop: session-closed — emit those too)
            if final_loop:
                dead.extend(partials)
            partials = []
        for p in dead:
            _finalize_loop(
                p, rows, key_val, sess[1] if gap_ns is not None else None
            )
        # session mode keeps the per-key cursor ALIVE even with no
        # in-flight work: the session ordinal counts from the key's first
        # event ever (matching the batch labeler), so dropping it would
        # reset session_id after an emitted match. Cost: one ~30-byte
        # header per key seen — state bounded by DISTINCT KEYS, like any
        # keyed aggregation, instead of by in-flight work.
        # nav keeps the per-key history tail alive like the session
        # cursor: dropping it would blind the next event's PREV — state
        # bounded by distinct keys, max-offset values each
        if partials or buffer or (gap_ns is not None and sess is not None) \
                or (nav and tail):
            state.update(
                (encode_partials(partials, last_end, sess),
                 encode_buffer(buffer, tail, len(aux_cols)))
            )
            wake = None
            if buffer:
                wake = buffer[0][0]
            elif partials:
                wake = min(p[1] for p in partials)
                if gap_ns is not None and sess is not None:
                    wake = min(wake, sess[0] + gap_ns)
            if wake is not None:
                state.setTimeoutTimestamp(
                    max(wake // 1_000_000 + 1, wm_ms + 1)
                )
        elif state.exists:
            state.remove()
        return rows

    if ordered:
        timeout_conf = (
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        )
        fn = _fn_ordered
    else:
        timeout_conf = GroupStateTimeout.EventTimeTimeout
        fn = _fn_buffered

    def _fn_bucket(_bucket, pdfs, state: GroupState):
        keyed = _bucket_events(pdfs, key_col, time_col, id_col, type_col, aux_cols)
        rows = _advance_bucket(fn, state, keyed, timeout_conf)
        if rows:
            yield _emit(rows)

    return (
        stream.withWatermark(time_col, watermark)
        # the matcher reads only these columns: do not shuffle the rest
        .select(*dict.fromkeys([key_col, time_col, id_col, type_col, *aux_cols]))
        # a null key never matches in batch (every step joins on key == key);
        # a null ts or id can neither anchor nor advance (null comparisons
        # are false in the batch algebra), and a null id would widen the
        # group's int64 id column to float64, which rounds the other ids
        # above 2**53; _bucket_events relies on this filter
        .where(
            F.col(key_col).isNotNull()
            & F.col(time_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .withColumn(BUCKET_COL, _bucket_of(key_col))
        .groupBy(BUCKET_COL)
        .applyInPandasWithState(
            _fn_bucket,
            outputStructType=out_ddl,
            stateStructType=(
                f"keys array<{key_ddl}>, partials array<binary>, "
                "buffer array<binary>, tmo array<bigint>, buckets int"
            ),
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )
