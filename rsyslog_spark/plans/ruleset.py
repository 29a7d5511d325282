"""Ruleset DSL: rsyslog's statement-list execution model compiled to a
single declarative DataFrame DAG.

The reference walks a per-ruleset linked list of statements for each
message (ref: runtime/ruleset.c:536-598 scriptExec; statement enum
grammar/rainerscript.h:112-181). We compile the SAME program shape
into Column expressions instead of interpreting per row:

- Each row carries an implicit "live" predicate (a Column, not a
  materialized column). ``If`` narrows it for its branches; ``Stop``
  removes the branch's rows from everything downstream (ref:
  S_STOP, grammar/rainerscript.h:112; omdiscard→STOP optimization
  rainerscript.c:5889-5898).
- ``Set``/``Unset`` become conditional ``withColumn`` — only rows
  whose live-predicate holds observe the assignment, which is exactly
  the interpreter's branch semantics (ref: runtime/ruleset.c:189-203).
- ``Action`` snapshots the rows live at that point — the fan-out
  edge. Compilation returns one DataFrame per action; all of them
  share the same scan (Spark caches/fuses common lineage; at scale
  this is one pass over the source with N filtered projections).
- ``Call`` inlines the target ruleset's statements (sync call,
  depth-limited 10 — ref: runtime/ruleset.c:205-294). Async queued
  calls are modeled by the streaming layer as separate queries.
- ``Foreach`` explodes a JSON array into per-element rows within the
  branch (ref: runtime/ruleset.c:310-401) — elements become a column
  bound to the loop variable; downstream statements in the body see
  one row per element.

Scale note: the compiled plan is pure narrow transformations
(filter/project) — no shuffle, fully whole-stage-codegen'd, and
Catalyst collapses the filter chains (equivalent of the reference's
NOP-removal + filter fusion, rainerscript.c:5803-5919). At 100 TB
the fan-out does not re-scan: use ``engine.run(df)`` once and write
each action's DataFrame in a single ``foreachBatch`` (streaming) or
rely on parquet scan reuse (batch).

Variable namespaces (ref: runtime/typedefs.h:244-248): ``$!name``
(message JSON tree) and ``$.name`` (local) map to flat columns via
``varname`` — ``$.x`` → ``local_x``, ``$!x`` → ``cee_x``, ``$/x`` →
``global_x``. Sinks must drop ``local_*`` columns ($.-vars are never
serialized — ref doc variable_property_types.rst).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rsyslog_spark.expr import prifilt as prifilt_col
from rsyslog_spark.expr import qcol

MAX_CALL_DEPTH = 10  # ref: runtime/ruleset.c:222 (call depth limit)

CondLike = Union[Column, Callable[[DataFrame], Column]]


# $/ global variables (ref: runtime/typedefs.h:244-248). The reference
# keeps them process-global and mutable across messages; the Spark
# analog is a process-global PLAN-TIME store: `set $/x = EXPR` records
# the value expression here (last write in plan order wins) and later
# reads — including in subsequent engine.run calls / micro-batches —
# resolve from it when the frame has no global_x column yet.
# Divergence (documented): per-row sequential mutation (counters via
# $/) is not modeled — the reference's own docs discourage it; use
# dynstats for counters. Values are stored as the original closure or
# Column; closures rebuild per frame so they survive JVM restarts.
GLOBAL_VARS: dict[str, Union[Column, Callable[[DataFrame], Column]]] = {}


def resolve_global(name: str, df: DataFrame) -> Column:
    """Read a ``$/`` variable: frame column if a set ran on this
    lineage, else the process-global store, else NULL (the reference
    reads missing vars as empty)."""
    col = varname(name)
    if col in df.columns:
        return F.col(col)
    stored = GLOBAL_VARS.get(col)
    if stored is not None:
        return stored(df) if callable(stored) else stored
    return F.lit(None).cast("string")


# Per-run script errno (ref: runtime/wti.c wtiSetScriptErrno /
# wtiGetScriptErrno; grammar/rainerscript.h:373-375 RS_SCRIPT_EOK /
# RS_SCRIPT_EINVAL): fallible function call sites (unflatten,
# parse_json) record a df→Column closure here as they compile; a
# later script_error() in the same run reads it. Row-level, like the
# reference's per-message wti errno. Reset at each ruleset run.
_SCRIPT_ERRNO: list = [None]


def set_script_errno(fn: Callable[[DataFrame], Column] | None) -> None:
    _SCRIPT_ERRNO[0] = fn


def script_errno_col(df: DataFrame) -> Column:
    """script_error() (ref: rainerscript.c doFunc_script_error):
    errno of the last fallible function call, 0 before any."""
    fn = _SCRIPT_ERRNO[0]
    return F.lit(0) if fn is None else fn(df)


#: reference default: variable names compare case-INSENSITIVELY
#: (glbl.c variables.casesensitive=off → libfastjson global
#: case-insensitive key comparison). We emulate with canonical
#: lowercase folding of $!/$./$/ names at BOTH set and read, so
#: ``set $!aBc`` and ``%$!ABC%`` bind the same engine column —
#: same observable equivalence, though a freshly-set key renders
#: lowercase where the reference keeps the first-written case.
_VAR_CASE_SENSITIVE = False


def set_var_case_sensitive(on: bool) -> None:
    """global(variables.casesensitive=...) — ref glbl.c:1405
    fjson_global_do_case_sensitive_comparison. Process-global like
    the reference's; config runtimes set it for a run and restore."""
    global _VAR_CASE_SENSITIVE
    _VAR_CASE_SENSITIVE = bool(on)


def var_case_sensitive() -> bool:
    return _VAR_CASE_SENSITIVE


def fold_var(name: str) -> str:
    """Canonical case for a $-variable name: identity when
    variables.casesensitive=on, lowercase otherwise. Only
    CEE/local/global variables fold (msg properties have their own
    alias handling)."""
    if _VAR_CASE_SENSITIVE or not name.startswith(("$!", "$.", "$/")):
        return name
    return name.lower()


def varname(name: str) -> str:
    """Map a RainerScript variable name to its engine column name
    (case-folded per variables.casesensitive — see fold_var)."""
    name = fold_var(name)
    if name.startswith("$!"):
        return "cee_" + name[2:].replace("!", "_")
    if name.startswith("$."):
        return "local_" + name[2:].replace("!", "_")
    if name.startswith("$/"):
        return "global_" + name[2:].replace("!", "_")
    return name.lstrip("$")


# --------------------------------------------------------------------------
# Statement nodes
# --------------------------------------------------------------------------


@dataclass
class Set:
    """set $.x = EXPR; — conditional column assignment.

    ``maybe_json``: the parser marks Sets whose RHS is a bare
    tree-variable read ('set $!a.b = $.x') — the stored string may be
    a whole JSON subtree, and the $!-tree renderers splice it raw
    when it parses as an object/array (the reference deep-copies the
    json NODE — runtime/msg.c msgAddJSON)."""
    name: str
    value: Union[Column, Callable[[DataFrame], Column]]
    maybe_json: bool = False


@dataclass
class Unset:
    name: str


@dataclass
class Stop:
    """stop / discard (~): remove row from all downstream statements."""


@dataclass
class Action:
    """action(...): snapshot rows live here, optionally transformed
    (template projection, omdiscard-style no-op, etc.). ``params``
    carries config-file action parameters verbatim (omfile file=...,
    omfwd target=..., ...) for the sink layer to interpret."""
    name: str
    transform: Callable[[DataFrame], DataFrame] | None = None
    params: dict | None = None


@dataclass
class Transform:
    """In-place message modification (the mm* action family — ref:
    each plugins/mm* doAction mutates the in-flight message and
    processing continues). ``fn(df, live) -> df`` must gate its
    updates on ``live``: rows that don't reach the action keep their
    prior values, exactly like the interpreter skipping doAction."""
    name: str
    fn: Callable[[DataFrame, Column], DataFrame]


@dataclass
class If:
    cond: CondLike
    then: Sequence["Stmt"] = dc_field(default_factory=list)
    orelse: Sequence["Stmt"] = dc_field(default_factory=list)


@dataclass
class PriFilt:
    """Classic selector filter ("mail.info;*.err") statement."""
    spec: str
    then: Sequence["Stmt"] = dc_field(default_factory=list)


@dataclass
class PropFilt:
    """:prop, op, "value" filter (ref ops enum runtime/typedefs.h:172-179,
    eval runtime/ruleset.c:424-500)."""
    prop: str
    op: str            # contains|isequal|startswith|endswith|regex|isempty
    value: str = ""
    negate: bool = False
    then: Sequence["Stmt"] = dc_field(default_factory=list)


@dataclass
class Call:
    ruleset: str


@dataclass
class CallIndirect:
    """call_indirect EXPR — ruleset name computed per row at runtime
    (ref: runtime/ruleset.c:236-275). Compiled as one guarded inline
    expansion per KNOWN ruleset: rows whose computed name matches no
    ruleset pass through unchanged, mirroring the reference's
    error-and-continue behavior."""
    name_expr: Union[Column, Callable[[DataFrame], Column]]


@dataclass
class Foreach:
    """foreach ($.elem in EXPR) — explode a collection column into the
    loop variable; body statements see one row per element.

    Collection kinds (ref: runtime/ruleset.c:310-401 — the reference
    iterates JSON arrays element-wise and JSON OBJECTS as {key,value}
    pairs):

    * array column → loop var bound to the element
    * map column → loop var bound to a {key,value} struct; the flat
      companion columns ``<var>_key`` / ``<var>_value`` mirror the
      reference's ``$.v!key`` / ``$.v!value`` access (varname maps
      ``$.v!key`` → ``local_v_key``)
    * string column → parsed as a JSON object (map<string,string>)
      and iterated as above; JSON-array strings should be cast to a
      real array upstream (split()/from_json)
    """
    var: str
    array: Union[Column, Callable[[DataFrame], Column]]
    body: Sequence["Stmt"] = dc_field(default_factory=list)


Stmt = Union[Set, Unset, Stop, Action, If, PriFilt, PropFilt, Call,
             CallIndirect, Foreach]


@dataclass
class Ruleset:
    name: str
    stmts: Sequence[Stmt]


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------


def _has_stop(stmts: Sequence[Stmt], rulesets: dict[str, Ruleset],
              _seen: frozenset = frozenset()) -> bool:
    """Static check: can executing ``stmts`` reach a Stop? Used to
    skip the foreach stop-rejoin when the body provably cannot stop."""
    for s in stmts:
        if isinstance(s, Stop):
            return True
        if isinstance(s, If):
            if _has_stop(s.then, rulesets, _seen) or \
                    _has_stop(s.orelse, rulesets, _seen):
                return True
        elif isinstance(s, (PriFilt, PropFilt)):
            if _has_stop(s.then, rulesets, _seen):
                return True
        elif isinstance(s, Foreach):
            if _has_stop(s.body, rulesets, _seen):
                return True
        elif isinstance(s, Call):
            if s.ruleset not in _seen and s.ruleset in rulesets and \
                    _has_stop(rulesets[s.ruleset].stmts, rulesets,
                              _seen | {s.ruleset}):
                return True
        elif isinstance(s, CallIndirect):
            return True   # conservatively: any ruleset may be called
    return False


def _set_targets(stmts: Sequence[Stmt], rulesets: dict[str, Ruleset],
                 _seen: frozenset = frozenset()) -> set[str]:
    """Column names a statement list can write via Set/Unset
    (recursing into branches and called rulesets). Used by Foreach to
    carry body variable writes back onto the per-message frame."""
    out: set[str] = set()
    for s in stmts:
        if isinstance(s, (Set, Unset)):
            out.add(varname(s.name))
        elif isinstance(s, If):
            out |= _set_targets(s.then, rulesets, _seen)
            out |= _set_targets(s.orelse, rulesets, _seen)
        elif isinstance(s, (PriFilt, PropFilt)):
            out |= _set_targets(s.then, rulesets, _seen)
        elif isinstance(s, Foreach):
            out |= _set_targets(s.body, rulesets, _seen) - {varname(s.var)}
        elif isinstance(s, Call):
            if s.ruleset in rulesets and s.ruleset not in _seen:
                out |= _set_targets(rulesets[s.ruleset].stmts, rulesets,
                                    _seen | {s.ruleset})
        elif isinstance(s, CallIndirect):
            for rname, target in rulesets.items():
                if rname not in _seen:
                    out |= _set_targets(target.stmts, rulesets,
                                        _seen | {rname})
    return out


def _prop_cond(df: DataFrame, s: PropFilt) -> Column:
    from rsyslog_spark.templates import prop_col

    c = prop_col(s.prop, df)   # frame-aware: set $!x values visible
    if s.op == "contains":
        cond = c.contains(s.value)
    elif s.op == "isequal":
        cond = c == s.value
    elif s.op == "startswith":
        cond = c.startswith(s.value)
    elif s.op == "endswith":
        cond = c.endswith(s.value)
    elif s.op in ("regex", "ereregex"):
        cond = c.rlike(s.value)
    elif s.op == "isempty":
        cond = F.coalesce(F.length(c), F.lit(0)) == 0
    else:
        raise ValueError(f"unknown propfilt op {s.op!r}")
    # missing property compares false, like the reference's empty-string read
    cond = F.coalesce(cond, F.lit(False))
    return ~cond if s.negate else cond


class _Compiler:
    def __init__(self, rulesets: dict[str, Ruleset]):
        self.rulesets = rulesets
        self.actions: list[tuple[str, DataFrame]] = []
        self._stack: list[str] = []
        self._fe_ctr = 0

    def run(self, rs: Ruleset, df: DataFrame) -> DataFrame:
        self.df = df
        self._stack = [rs.name]
        set_script_errno(None)   # errno starts EOK each run
        live = self._exec(rs.stmts, F.lit(True), depth=0)
        # rows surviving the whole ruleset (not stopped); internal
        # bookkeeping columns (__fe_*) never leave the engine
        out = self.df.filter(live)
        return out.drop(*[c for c in out.columns
                          if c.startswith("__fe_")])

    def _snap_cond(self, cond: Column) -> Column:
        """Freeze a branch condition as a materialized boolean
        column (``__fe_if*`` — swept with the other bookkeeping
        columns). Branch bodies mutate ``self.df`` with gated
        ``withColumn``s; an unresolved condition re-resolved after
        that would (a) inline the mutated trees into itself — tree
        size doubles per nested if, analyzer OOM on deep set/unset
        chains — and (b) evaluate on POST-branch values, while the
        reference evaluates each condition once on entry
        (ruleset.c script execution order)."""
        self._fe_ctr += 1
        name = f"__fe_if{self._fe_ctr}"
        self.df = self.df.withColumn(name, cond)
        return F.col(name)

    # Executes stmts under `live`; returns the survivor predicate
    # (live minus rows that hit a Stop).
    def _exec(self, stmts: Sequence[Stmt], live: Column, depth: int) -> Column:
        for s in stmts:
            if isinstance(s, Set) and s.name in ("$!", "$."):
                # bare-root tree assignment (golden
                # rscript_bare_var_root.sh: 'set $! = $.;' replaces
                # the WHOLE message tree with the local tree). The
                # value text becomes the tree; prior flat columns of
                # the target prefix are superseded (nulled for live
                # rows).
                from rsyslog_spark.expr import rs_str
                v = s.value(self.df) if callable(s.value) else s.value
                vtxt = rs_str(v)
                vtxt = F.when(vtxt == "", F.lit(None)).otherwise(vtxt)
                prefix = "cee_" if s.name == "$!" else "local_"
                for c in list(self.df.columns):
                    if c.startswith(prefix) and c != "local__root":
                        self.df = self.df.withColumn(
                            c, F.when(live, F.lit(None))
                            .otherwise(F.col(c)))
                if s.name == "$!":
                    prev = (F.col("json")
                            if "json" in self.df.columns
                            else F.lit(None).cast("string"))
                    self.df = self.df.withColumn(
                        "json", F.when(live, vtxt).otherwise(prev))
                else:
                    prev = (F.col("local__root")
                            if "local__root" in self.df.columns
                            else F.lit(None).cast("string"))
                    self.df = self.df.withColumn(
                        "local__root",
                        F.when(live, vtxt).otherwise(prev))
                continue
            if isinstance(s, Set):
                v = s.value(self.df) if callable(s.value) else s.value
                name = varname(s.name)
                prev = qcol(name) if name in self.df.columns else F.lit(None)
                if s.maybe_json and name in self.df.columns:
                    # msgAddJSON merge semantics (runtime/msg.c:
                    # 5134-5155; golden msg_json_set_regression.sh):
                    # object over object → top-level jsonMerge (kept
                    # keys keep their order, new keys append/replace);
                    # NON-object over an existing object → the set is
                    # REFUSED (RS_RET_INVLD_SETOP), value unchanged;
                    # anything else replaces. `reset` bypasses via
                    # plain Set (force_reset path).
                    def _isobj(c):
                        sc = c.cast("string")
                        return (F.substring(sc, 1, 1) == "{") \
                            & F.try_parse_json(sc).isNotNull()
                    pv = prev.cast("string")
                    nv = F.coalesce(v.cast("string"), F.lit(""))
                    merged = F.to_json(F.map_concat(
                        F.map_filter(
                            F.from_json(pv, "map<string,variant>"),
                            lambda k, _x: ~F.array_contains(
                                F.coalesce(F.json_object_keys(nv),
                                           F.array()), k)),
                        F.from_json(nv, "map<string,variant>")))
                    v = (F.when(_isobj(pv) & _isobj(nv), merged)
                         .when(_isobj(pv) & ~_isobj(nv), pv)
                         .otherwise(v))
                val = F.when(live, v).otherwise(prev)
                if s.name.startswith(("$!", "$.")) \
                        and s.name not in ("$!", "$."):
                    # record the deep path (case-folded, so renders
                    # and reads agree) — varname's '!'->'_'
                    # flattening is lossy, and the tree renderers
                    # (%$!%, %$.%, %jsonmesg%) rebuild nesting from
                    # this metadata (templates._set_tree_json /
                    # _local_tree_json)
                    meta = {"rs_path": fold_var(s.name)}
                    if s.maybe_json and \
                            self.df.select(val).schema[0].dataType \
                            .typeName() == "string":
                        # RHS was a tree-var read: the string may be
                        # a JSON subtree — renderers splice it raw
                        # when it parses (msg.c msgAddJSON node copy)
                        meta["rs_json_maybe"] = True
                    # attached in the same projection; not
                    # withMetadata: it parses dotted names
                    # ('cee_a.b.c') as nested-field paths
                    val = val.alias(name, metadata=meta)
                self.df = self.df.withColumn(name, val)
                if s.name.startswith("$/"):
                    # persist for later runs/batches (plan-time store)
                    GLOBAL_VARS[name] = s.value
            elif isinstance(s, Unset):
                name = varname(s.name)
                if s.name.startswith("$/"):
                    GLOBAL_VARS.pop(name, None)
                if name in self.df.columns:
                    self.df = self.df.withColumn(
                        name, F.when(live, F.lit(None)).otherwise(qcol(name))
                    )
                if s.name.startswith("$!") and "json" in self.df.columns:
                    # $! vars also live in the message JSON tree: a
                    # read falls back to it (config _var_col coalesce),
                    # so unset must remove the key there too (ref:
                    # runtime/ruleset.c unset → msgDelJSON)
                    from rsyslog_spark.functions.json_fns import json_unset
                    self.df = self.df.withColumn(
                        "json", F.when(live, json_unset("json", s.name))
                        .otherwise(F.col("json")))
            elif isinstance(s, Stop):
                # All rows live here stop; later statements in this
                # block still compile (their actions register) but see
                # no rows — matches interpreter unreachability.
                live = F.lit(False)
            elif isinstance(s, Transform):
                self.df = s.fn(self.df, live)
            elif isinstance(s, Action):
                snap = self.df.filter(live)
                # inside a foreach body: keep the loop variable, drop
                # every internal bookkeeping column (__fe_id/pos/gate)
                snap = snap.drop(*[c for c in snap.columns
                                   if c.startswith("__fe_")])
                if s.transform is not None:
                    snap = s.transform(snap)
                self.actions.append((s.name, snap))
            elif isinstance(s, If):
                cond = s.cond(self.df) if callable(s.cond) else s.cond
                cond = F.coalesce(cond, F.lit(False))
                # SNAPSHOT the condition as a materialized boolean
                # column before running the branches. The branches
                # mutate self.df via withColumn(when(live&cond,...)),
                # and an unresolved `cond` re-resolved later (the
                # else-branch `~cond`, or an enclosing live chain)
                # would inline those mutated trees back into itself —
                # exponential tree growth (analyzer OOM on the
                # rscript_eq_var gauntlet) AND wrong semantics: the
                # reference evaluates the condition ONCE on entry
                # values (ruleset.c execIf), so a then-branch `set`
                # must not flip which branch a row took.
                cond = self._snap_cond(cond)
                t = self._exec(s.then, live & cond, depth)
                e = self._exec(s.orelse, live & ~cond, depth)
                live = t | e
            elif isinstance(s, PriFilt):
                cond = self._snap_cond(prifilt_col(s.spec))
                t = self._exec(s.then, live & cond, depth)
                live = t | (live & ~cond)
            elif isinstance(s, PropFilt):
                cond = self._snap_cond(_prop_cond(self.df, s))
                t = self._exec(s.then, live & cond, depth)
                live = t | (live & ~cond)
            elif isinstance(s, Call):
                if depth >= MAX_CALL_DEPTH:
                    raise RecursionError(
                        f"call depth > {MAX_CALL_DEPTH} (ref ruleset.c:222)"
                    )
                target = self.rulesets[s.ruleset]
                self._stack.append(s.ruleset)
                live = self._exec(target.stmts, live, depth + 1)
                self._stack.pop()
            elif isinstance(s, CallIndirect):
                if depth >= MAX_CALL_DEPTH:
                    raise RecursionError(
                        f"call depth > {MAX_CALL_DEPTH} (ref ruleset.c:222)"
                    )
                nm = s.name_expr(self.df) if callable(s.name_expr) \
                    else s.name_expr
                out_live = F.lit(False)
                matched_any = F.lit(False)
                # static expansion cannot unroll cycles: rulesets
                # already on the call stack are skipped (the reference
                # bounds re-entry at depth 10 dynamically; a config
                # relying on indirect SELF-recursion is out of scope)
                for rname, target in self.rulesets.items():
                    if rname in self._stack:
                        continue
                    sel = self._snap_cond(
                        F.coalesce(nm == F.lit(rname), F.lit(False)))
                    matched_any = matched_any | sel
                    self._stack.append(rname)
                    out_live = out_live | self._exec(
                        target.stmts, live & sel, depth + 1)
                    self._stack.pop()
                # unmatched names: row continues in the caller
                live = out_live | (live & ~matched_any)
            elif isinstance(s, Foreach):
                arr = s.array(self.df) if callable(s.array) else s.array
                name = varname(s.var)
                # object iteration: maps (and JSON-object strings)
                # explode as {key,value} entry structs — the
                # reference's execForeach object path
                # (runtime/ruleset.c:310-401)
                from pyspark.sql.types import MapType, StringType
                probe_t = self.df.select(arr.alias("__fe_probe")) \
                    .schema[0].dataType
                is_obj = False
                is_str = False
                if isinstance(probe_t, StringType):
                    # STRING collections dispatch per ROW like the
                    # reference's execForeach (ruleset.c:310-401):
                    # a JSON array iterates element-wise (elements
                    # coerce to their JSON text — objects/numbers
                    # keep their serialization, strings unquote,
                    # golden json_array_looping.sh), a JSON object
                    # iterates as {key,value} entries. Both shapes
                    # unify as array<struct<key,value>> (key NULL for
                    # array elements) so one explode serves both.
                    txt = F.trim(arr)
                    obj_entries = F.map_entries(
                        F.from_json(txt, "map<string,string>"))
                    arr_entries = F.transform(
                        F.from_json(txt, "array<string>"),
                        lambda x: F.struct(
                            F.lit(None).cast("string").alias("key"),
                            x.alias("value")))
                    arr = F.when(txt.startswith("["), arr_entries) \
                        .otherwise(obj_entries)
                    is_obj = True
                    is_str = True
                elif isinstance(probe_t, MapType):
                    arr = F.map_entries(arr)
                    is_obj = True
                # The body runs on a BRANCHED frame: posexplode the
                # array (one row per element, loop var bound), execute
                # the body there, then restore the single-row-per-
                # message frame — after the loop the message is one
                # message again (ref: runtime/ruleset.c:310-401). A
                # `stop` in the body kills the whole message AND skips
                # the remaining iterations (interpreter order).
                # Variables the body writes are carried back as the
                # LAST executed iteration's value (the reference
                # mutates the message persistently via
                # msgSetJSONFromVar, where each iteration overwrites).
                # Divergence note: mutations do NOT accumulate ACROSS
                # iterations (element N's body sees the pre-loop
                # value, not element N-1's write) — running sums must
                # use aggregate()/explode-groupBy instead of
                # `set $.sum = $.sum + ...` in a body.
                self._fe_ctr += 1
                n = self._fe_ctr
                fe_id = f"__fe_id_{n}"
                fe_pos = f"__fe_pos_{n}"
                fe_gate = f"__fe_gate_{n}"
                # Deterministic per-message id: hash of the full row.
                # monotonically_increasing_id is evaluated
                # independently on the base and exploded lineages (and
                # again on task retry), so ids could mismatch and the
                # stop anti-join would drop the wrong messages.
                # Identical duplicate rows share an id — semantically
                # safe because the body is a pure function of the row
                # (duplicates stop/carry identically); the gate/stop
                # frames are deduped so join cardinality is preserved.
                id_in = [F.to_json(F.struct(F.col(c))) if "map<" in t
                         else F.col(c) for c, t in self.df.dtypes]
                base = self.df.withColumn(fe_id, F.xxhash64(*id_in))
                exploded = base.select(
                    "*",
                    F.posexplode_outer(F.when(live, arr))
                    .alias(fe_pos, name))
                if is_obj:
                    exploded = exploded.withColumn(
                        f"{name}_key", F.col(name)["key"]).withColumn(
                        f"{name}_value", F.col(name)["value"])
                if is_str:
                    # string-collection loop var binds as TEXT: the
                    # raw element for array iteration, the entry's
                    # JSON for object iteration (templates respace it
                    # json-c style — golden json_object_looping.sh
                    # 'quux: { "key": ..., "value": ... }'). An
                    # entry VALUE that is itself JSON inlines as a
                    # real node, not a re-escaped string.
                    kcol = F.col(f"{name}_key")
                    vcol = F.col(f"{name}_value")

                    def jstr(c):
                        # JSON-escaped quoted scalar via to_json of a
                        # 1-element array, brackets stripped
                        a = F.to_json(F.array(c))
                        return F.substr(a, F.lit(2), F.length(a) - 2)

                    v1 = F.substring(F.trim(vcol), 1, 1)
                    v_json = (v1.isin("{", "[")
                              & F.try_parse_json(vcol).isNotNull())
                    vtxt = F.when(v_json, vcol).otherwise(jstr(vcol))
                    exploded = exploded.withColumn(
                        name,
                        F.when(kcol.isNull(), vcol)
                        .otherwise(F.concat(
                            F.lit('{"key":'), jstr(kcol),
                            F.lit(',"value":'), vtxt, F.lit("}"))))
                live_body = live & F.col(name).isNotNull()
                from pyspark.sql.window import Window
                w = Window.partitionBy(fe_id)
                fe_msgstop = f"__fe_msgstop_{n}"
                has_stop = _has_stop(s.body, self.rulesets)
                wrote = sorted(
                    _set_targets(s.body, self.rulesets) - {name})
                if has_stop:
                    # Dry-run the body (actions discarded) to find the
                    # first stopping element per message; elements
                    # after it never execute. Per-element rows are
                    # independent (no cross-iteration data flow), so
                    # the dry-run predicate equals the real one. The
                    # probe may overwrite existing columns via set —
                    # save them first and restore after, so probe side
                    # effects never leak; the gate and the per-message
                    # stop marker are WINDOW columns over fe_id, not a
                    # join (no shuffle-join, no duplicate-row
                    # cardinality hazard).
                    save = {f"__fe_sav_{i}_{n}": c for i, c in
                            enumerate(x for x in wrote
                                      if x in exploded.columns)}
                    probe_in = exploded
                    for sc, c in save.items():
                        probe_in = probe_in.withColumn(sc, F.col(c))
                    probe = _Compiler(self.rulesets)
                    probe._stack = list(self._stack)
                    probe._fe_ctr = self._fe_ctr + 1000
                    probe.df = probe_in
                    t1 = probe._exec(s.body, live_body, depth)
                    stop_flag = F.coalesce(live_body & ~t1,
                                           F.lit(False))
                    first_stop = F.min(
                        F.when(stop_flag, F.col(fe_pos))).over(w)
                    gated = (probe.df
                             .withColumn(fe_gate,
                                         first_stop.isNull()
                                         | (F.col(fe_pos) <= first_stop))
                             .withColumn(
                                 fe_msgstop,
                                 F.max(stop_flag.cast("int")).over(w)
                                 == 1))
                    for sc, c in save.items():
                        gated = gated.withColumn(c, F.col(sc))
                    exploded = gated.select(*exploded.columns,
                                            fe_gate, fe_msgstop)
                    live_body = live_body & F.coalesce(
                        F.col(fe_gate), F.lit(True))
                self.df = exploded
                self._exec(s.body, live_body, depth)
                body_df = self.df
                # Collapse back to one row per message WITHOUT a join:
                # the pos==0 row (or the null row posexplode_outer
                # emits for empty/missing arrays) IS the message;
                # last-executed-iteration variable writes are window
                # maxes over the same fe_id partitioning (max-struct
                # keeps a NULL written by Unset, which max_by would
                # skip; rows where the body didn't run contribute a
                # NULL position and lose the max). A stop in the body
                # kills the whole message via the fe_msgstop MARKER
                # column narrowing `live` — the predicate propagates
                # through an enclosing foreach's probe, so a stop in a
                # NESTED loop kills the outer message too (interpreter
                # behavior).
                restored = body_df
                carry_cols: list[str] = []
                if wrote:
                    fe_ran = f"__fe_ran_{n}"
                    restored = restored.withColumn(
                        fe_ran,
                        F.max(F.coalesce(live_body, F.lit(False))
                              .cast("int")).over(w) == 1)
                    for i, c in enumerate(wrote):
                        cc = f"__fe_carry_{i}_{n}"
                        carry_cols.append(cc)
                        restored = restored.withColumn(
                            cc,
                            F.max(F.struct(
                                F.when(live_body, F.col(fe_pos))
                                .alias("p"),
                                F.col(c).alias("v"))).over(w)
                            .getField("v"))
                restored = restored.filter(
                    (F.col(fe_pos) == 0) | F.col(fe_pos).isNull())
                if wrote:
                    for i, c in enumerate(wrote):
                        # body never ran for this message → the row
                        # still holds the pre-loop value; keep it
                        restored = restored.withColumn(
                            c, F.when(F.col(f"__fe_ran_{n}"),
                                      F.col(f"__fe_carry_{i}_{n}"))
                            .otherwise(F.col(c) if c in base.columns
                                       else F.lit(None)))
                if has_stop:
                    live = live & ~F.coalesce(F.col(fe_msgstop),
                                              F.lit(False))
                drop = [fe_id, fe_pos, name] + carry_cols
                if wrote:
                    drop.append(f"__fe_ran_{n}")
                if is_obj:
                    drop += [f"{name}_key", f"{name}_value"]
                self.df = restored.drop(*drop)
            else:
                raise TypeError(f"unknown statement {s!r}")
        return live


class RulesetEngine:
    """Holds named rulesets; compiles one entry ruleset against a
    DataFrame into per-action output DataFrames.

    Returns (actions, survivors): ``actions`` is an ordered list of
    (action_name, DataFrame) fan-out edges; ``survivors`` the rows
    that ran off the end of the statement list.
    """

    def __init__(self, rulesets: Sequence[Ruleset]):
        self.rulesets = {r.name: r for r in rulesets}

    def run(
        self, df: DataFrame, entry: str = "RSYSLOG_DefaultRuleset"
    ) -> tuple[list[tuple[str, DataFrame]], DataFrame]:
        comp = _Compiler(self.rulesets)
        survivors = comp.run(self.rulesets[entry], df)
        return comp.actions, survivors
