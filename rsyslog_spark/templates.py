"""Templates — the engine's projection/formatting layer (the SELECT list).

Reference: ``struct template``/``templateEntry`` (runtime/template.h:
40-182), property-replacer options (doc/source/configuration/
property_replacer.rst), output escaping modes (template.h:50-55,
160-166). A template compiles ONCE to a Column expression; rendering
is a projection (Catalyst codegen), never per-row interpretation.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column
from pyspark.sql import functions as F

from rsyslog_spark.expr import ColumnOrName, _c, qcol, rs_str
from rsyslog_spark.session import now_col as _now_col


# ---------------------------------------------------------------------------
# Escaping modes (template.h:50-55; property_replacer escaping options)
# ---------------------------------------------------------------------------

def csv_escape(c: ColumnOrName) -> Column:
    """RFC4180 CSV field: always quoted, inner quotes doubled
    (ref: template OPT_CSV, template.h:160-166)."""
    s = rs_str(c)
    return F.concat(F.lit('"'), F.replace(s, F.lit('"'), F.lit('""')), F.lit('"'))


def json_escape(c: ColumnOrName) -> Column:
    """JSON string-value escaping for the property option paths —
    reference-exact jsonEncode/jsonAddVal_escaped (msg.c:3360-3420,
    escapeAll=TRUE): backslash doubled, quote and '/' escaped (the
    reference escapes the solidus — json-c renders, a different code
    path, do NOT), RFC4627 named escapes for BS/FF/LF/CR/TAB."""
    s = rs_str(c)
    for find, repl in (("\\", "\\\\"), ('"', '\\"'), ("/", "\\/"),
                       ("\x08", "\\b"), ("\x0c", "\\f"),
                       ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        s = F.replace(s, F.lit(find), F.lit(repl))
    return s


#: sentinel-protected pairs for jsonr/jsonfr (msg.c jsonAddVal_escaped
#: escapeAll=FALSE: a backslash followed by a valid JSON escape char
#: passes through un-doubled — "attempt to not double encode")
_JSONR_PAIRS = [('"', "\x01Q"), ("/", "\x01S"), ("\\", "\x01B"),
                ("b", "\x01b"), ("f", "\x01f"), ("n", "\x01n"),
                ("r", "\x01r"), ("t", "\x01t"), ("u", "\x01u")]


def jsonr_escape(c: ColumnOrName) -> Column:
    """jsonr/jsonfr escaping (msg.c jsonEncode escapeAll=RSFALSE):
    like :func:`json_escape` but pre-escaped sequences (``\\"``,
    ``\\n``, ``\\\\``, …) are preserved instead of double-encoded."""
    s = rs_str(c)
    for ch, sent in _JSONR_PAIRS:
        s = F.replace(s, F.lit("\\" + ch), F.lit(sent))
    s = json_escape(s)
    for ch, sent in _JSONR_PAIRS:
        s = F.replace(s, F.lit(sent), F.lit("\\" + ch))
    return s


def stdsql_escape(c: ColumnOrName) -> Column:
    """stdSQL escaping: single quotes doubled (ref: OPT_STDSQL)."""
    return F.replace(rs_str(c), F.lit("'"), F.lit("''"))


def mysql_escape(c: ColumnOrName) -> Column:
    """MySQL escaping: backslash-escape quote chars (ref: OPT_SQL)."""
    s = F.replace(rs_str(c), F.lit("\\"), F.lit("\\\\"))
    s = F.replace(s, F.lit("'"), F.lit("\\'"))
    return s


#: control characters the property options process (msg.c uses
#: iscntrl(): 0x00-0x1F plus DEL)
_CC_CHARS = [chr(i) for i in range(1, 0x20)] + ["\x7f"]


def controlchar_escape(c: ColumnOrName, mode: str = "escape") -> Column:
    """Control-character handling (template.h:150-159; msg.c
    4401-4517): drop | space | escape (#DDD decimal, zero-padded —
    bEscapeCC) | escape-octal (#OOO — bEscapeCCOctal). NB: distinct
    from the RECEIVE-time $Escape...OnReceive escaping, which is
    always octal."""
    s = rs_str(c)
    if mode == "drop":
        return F.regexp_replace(s, r"[\x00-\x1f\x7f]", "")
    if mode == "space":
        return F.regexp_replace(s, r"[\x00-\x1f\x7f]", " ")
    if mode in ("escape", "escape-octal"):
        for ch in _CC_CHARS:
            code = ord(ch)
            esc = (f"#{code:03o}" if mode == "escape-octal"
                   else f"#{code:03d}")
            s = F.replace(s, F.lit(ch), F.lit(esc))
        return s
    raise ValueError(mode)


def secpath_sanitize(c: ColumnOrName, mode: str = "replace") -> Column:
    """securepath option (template.h:157-158; msg.c:4519-4604):
    'drop' removes '/', 'replace' maps '/' to '_'; then the result
    is made safe as a path COMPONENT — empty → ``_``, ``.`` → ``_``,
    ``..`` → ``_.`` (reference-exact, template-property-
    transformations.sh sec_* lines)."""
    s = rs_str(c)
    if mode == "drop":
        s = F.replace(s, F.lit("/"), F.lit(""))
    else:
        s = F.replace(s, F.lit("/"), F.lit("_"))
    return (F.when(s == "", F.lit("_"))
            .when(s == ".", F.lit("_"))
            .when(s == "..", F.lit("_."))
            .otherwise(s))


# ---------------------------------------------------------------------------
# Property-replacer: one property reference with options
# ---------------------------------------------------------------------------

# Legacy property spellings → (engine column, default date format).
# ref: runtime/msg.c propNameToID / typedefs.h PROP_* table. The
# legacy TIMESTAMP spelling renders RFC3164 by default, matching the
# reference's builtin-template output.
_PROP_ALIASES: dict[str, tuple[str, str | None]] = {
    "timestamp": ("timereported", "rfc3164"),
    "timereported": ("timereported", "rfc3164"),
    "timegenerated": ("timegenerated", "rfc3164"),
    # timereceived is an ALIAS of timegenerated (msg.c propNameToID;
    # golden template-property-timereceived.sh)
    "timereceived": ("timegenerated", "rfc3164"),
    "fromhost-port": ("fromhost_port", None),
    "hostname": ("hostname", None),
    "source": ("hostname", None),
    "fromhost": ("fromhost", None),
    "fromhost-ip": ("fromhost_ip", None),
    "app-name": ("app_name", None),
    "procid": ("procid", None),
    "msgid": ("msgid", None),
    "structured-data": ("structured_data", None),
    "pri": ("pri", None),
    "protocol-version": ("protocol_version", None),
    "syslogseverity-text": ("syslogseverity-text", None),
    "syslogfacility-text": ("syslogfacility-text", None),
    # legacy aliases (ref: msg.c propNameToID: syslogpriority is the
    # historical name for severity)
    "syslogpriority": ("syslogseverity", None),
    "syslogpriority-text": ("syslogseverity-text", None),
}


def _system_props() -> dict:
    """$now/$year/... system properties (ref: runtime/typedefs.h:
    221-243 PROP_SYS_*). Plain variants follow the daemon's local
    time = the session timezone; ``-utc`` variants render the UTC
    wall clock unconditionally (ref: msg.c getNOW with
    utc_time/inUTC, msg.c:1647-1710) — ``to_utc_timestamp`` against
    ``current_timezone()`` keeps them correct under ANY
    ``spark.sql.session.timeZone``, not just UTC sessions."""
    import socket as _socket

    now = _now_col()
    # date_format renders in the SESSION tz; shifting the instant by
    # to_utc_timestamp(now, current_timezone()) makes the rendered
    # wall clock read as UTC regardless of the session setting
    utc = F.to_utc_timestamp(now, F.expr("current_timezone()"))
    return {
        "now": F.date_format(now, "yyyy-MM-dd"),
        "now-utc": F.date_format(utc, "yyyy-MM-dd"),
        "year": F.date_format(now, "yyyy"),
        "year-utc": F.date_format(utc, "yyyy"),
        "month": F.date_format(now, "MM"),
        "month-utc": F.date_format(utc, "MM"),
        "day": F.date_format(now, "dd"),
        "day-utc": F.date_format(utc, "dd"),
        "hour": F.date_format(now, "HH"),
        "hour-utc": F.date_format(utc, "HH"),
        "minute": F.date_format(now, "mm"),
        "minute-utc": F.date_format(utc, "mm"),
        "now-unixtimestamp": F.unix_timestamp(now).cast("string"),
        "myhostname": F.lit(__import__(
            "rsyslog_spark.session", fromlist=["local_hostname"]
        ).local_hostname()),
        "bom": F.lit("\ufeff"),
    }


#: global(compactJsonString=...) — reference default OFF = json-c
#: SPACED renders for %$!%/%$!all-json% (glbl.c:104
#: glblJsonFormatOpt = JSON_C_TO_STRING_SPACED)
_COMPACT_JSON = False


def set_compact_json_string(on: bool) -> None:
    global _COMPACT_JSON
    _COMPACT_JSON = bool(on)


def compact_json_string() -> bool:
    return _COMPACT_JSON


def prop_col(name: str, df=None) -> Column:
    """Resolve a property NAME (legacy spelling and ``$``-prefixed
    system properties allowed) to its engine Column — the shared
    resolver for property filters, expression variables, and template
    entries (ref: runtime/msg.c propNameToID).

    ``df``: the frame the Column will be bound to, when the caller
    has it. ``$!`` vars live in TWO places — a flat ``cee_*`` column
    (written by ``set $!x``/mm* operators) and the original ``json``
    tree — and the reference reads them through one tree
    (runtime/msg.c MsgGetJSONPropJSON), so a render must see BOTH
    with the set-value winning. Without a frame only the portable
    tree read compiles (a reference to a maybe-absent column would
    fail analysis)."""
    if name in ("$!all-json", "!all-json", "$!", "!"):
        # the whole $! tree rendered as JSON (ref: msg.c
        # MSG_PROP_ALL_JSON); engine keeps the parsed tree in `json`
        # and set-$! values in flat cee_* columns — render merges
        # both (set wins on top-level key collisions, like a set
        # overriding a parsed field). Empty-tree fallback differs:
        # %$!all-json% renders "{}" (msg.c:3998), the bare %$!%
        # CEE-root property renders "" (golden
        # rscript_bare_var_root-empty.sh 'empty--').
        # Render is json-c SPACED (msg.c:4005 JSON_C_TO_STRING_SPACED
        # for PROP_CEE_ALL_JSON; golden msg_json_set_regression.sh)
        # unless global(compactJsonString="on") selects PLAIN
        # (glbl.c:1433 glblJsonFormatOpt).
        raw = _all_json_col(
            df, empty="{}" if "all-json" in name else None)
        if compact_json_string():
            return raw
        from rsyslog_spark.functions.json_fns import jsonc_spaced
        return _let(raw, lambda r: F.when(r.isNull() | r.isin("", "{}"), r)
                    .otherwise(jsonc_spaced(r)))
    if name in ("$.", "."):
        # bare local-var root: the $. tree as JSON (golden
        # rscript_bare_var_root.sh 'set $! = $.')
        return _local_tree_json(df)
    if name.lstrip("$").lower() == "jsonmesg":
        return _jsonmesg_col(df)
    if name.startswith(("$!", "!")):
        from rsyslog_spark.functions import json_fns
        from rsyslog_spark.plans.ruleset import fold_var, varname
        # object/array-valued reads re-render json-c SPACED (the
        # reference's node→string conversion; goldens
        # mmpstrucdata-escaping.sh, json_array_subscripting.sh)
        # render_var_value reads its input four times: bind it (a
        # bare column read needs no binding)
        def rvv(c):
            return _let(c, json_fns.render_var_value)
        path = fold_var("$!" + name.lstrip("$").lstrip("!"))
        tree = json_fns.tree_get("json", path)
        if df is None:
            return rvv(tree)
        flat = varname(path)
        cols = set(df.columns)
        has_json = "json" in cols
        if flat in cols:
            c = _container_to_json(df, flat)
            return rvv(F.coalesce(c, tree)) if has_json \
                else json_fns.render_var_value(c)
        sub = flat_json_prefix_read(path, df)
        if sub is not None:
            return rvv(F.coalesce(sub, tree) if has_json else sub)
        # subtree with SET children but no own column: reassemble
        # from the merged $! tree (set $!str!var1 = ... then
        # %$!str% — golden rscript_b64_decode.sh renders the branch)
        if any(c.startswith(flat + "_") for c in cols):
            merged = _tree_read(_all_json_col(df), path)
            return rvv(F.coalesce(merged, tree)
                       if has_json else merged)
        return rvv(tree) if has_json else F.lit(None).cast("string")
    if name.startswith(("$.", ".")):
        from rsyslog_spark.functions.json_fns import render_var_value
        from rsyslog_spark.plans.ruleset import varname
        lname = "$." + name.lstrip("$").lstrip(".")
        local = varname(lname)
        if df is not None and local not in df.columns:
            from rsyslog_spark.config.rainerscript import (
                _local_prefix_read)
            sub = _local_prefix_read(lname, df)
            if sub is not None:
                return _let(sub, render_var_value)
            if any(c.startswith(local + "_") for c in df.columns):
                return _let(_tree_read(_local_tree_json(df),
                                       "$!" + lname[2:]),
                            render_var_value)
            return F.lit(None).cast("string")
        return render_var_value(_container_to_json(df, local)
                                if df is not None else F.col(local))
    if name.startswith(("$/", "/")):
        # $/ global variable render (golden json_var_cmpr.sh
        # 'global prop:%$/val%')
        from rsyslog_spark.functions.json_fns import render_var_value
        from rsyslog_spark.plans.ruleset import resolve_global, varname
        gname = "$/" + name.lstrip("$").lstrip("/")
        if df is not None:
            return render_var_value(resolve_global(gname, df))
        return F.col(varname(gname))
    lo = name.lstrip("$").lower()
    if lo in ("procid", "msgid", "structured-data",
              "structured_data", "app-name", "app_name"):
        # RFC5424 header properties render NIL/absent as "-" (ref:
        # msg.c getPROCID:2134, getMSGID:2172, SD:2484,
        # MsgSetAPPNAME:2065; golden empty-app-name.sh) — the engine
        # COLUMNS stay NULL, the property layer supplies the NIL
        col = _PROP_ALIASES.get(lo, (lo, None))[0]
        return F.coalesce(F.nullif(F.col(col), F.lit("")),
                          F.lit("-"))
    if lo == "parsesuccess":
        # renders/compares as "OK"/"FAIL" (ref: msg.c:2160-2164) —
        # the engine column stays boolean
        return F.when(F.col("parsesuccess"), F.lit("OK")) \
            .otherwise(F.lit("FAIL"))
    if lo == "rawmsg-after-pri":
        # ref: msg.c:426 PROP_RAWMSG_AFTER_PRI — the raw line minus
        # its <PRI> prefix; derived, not a stored column
        from rsyslog_spark.parsers.pri import strip_pri
        return strip_pri(F.col("rawmsg"))
    if lo == "pri-text":
        # msg.c textpri(): "<facility>.<severity>" names
        return F.concat(_pri_text("syslogfacility-text"), F.lit("."),
                        _pri_text("syslogseverity-text"))
    if lo == "iut":
        # InfoUnitType — constant 1 (msg.c getIUT; MonitorWare legacy)
        return F.lit("1")
    sysprops = _system_props()
    if lo in sysprops:
        return sysprops[lo]
    if lo == "syslogpriority-text":
        lo = "syslogseverity-text"
    if lo in ("syslogseverity-text", "syslogfacility-text"):
        return _pri_text(lo)
    alias = _PROP_ALIASES.get(lo)
    return F.col(alias[0] if alias else name.lstrip("$"))


def _container_to_json(df, colname: str) -> Column:
    """Read a variable column for rendering: container-typed columns
    (array/map/struct — e.g. split() results) serialize via to_json
    so the json-c spaced re-render applies (golden rscript_split.sh:
    '[ "a", "b" ]', not Spark's '[a, b]' toString); scalars cast."""
    c = qcol(colname)
    try:
        tn = df.schema[colname].dataType.typeName()
    except Exception:
        tn = None
    if tn in ("array", "map", "struct"):
        return F.to_json(c)
    return c.cast("string")


def flat_json_prefix_read(path: str, df) -> Column | None:
    """Deep read INTO a flat JSON-subtree column: when ``path``'s
    longest flat-column prefix carries the ``rs_json`` metadata (the
    column holds a JSON object — mmpstrucdata's ``$!rfc5424-sd``),
    json_get the remainder out of it. None when no such prefix."""
    from rsyslog_spark.functions import json_fns
    from rsyslog_spark.plans.ruleset import varname

    segs = path[2:].split("!")
    cols = set(df.columns)
    for k in range(len(segs) - 1, 0, -1):
        pflat = varname("$!" + "!".join(segs[:k]))
        if pflat not in cols:
            continue
        if (df.schema[pflat].metadata or {}).get("rs_json"):
            rest = "$!" + "!".join(segs[k:])
            # tree_get: the subtree read honors the same fjson
            # case-insensitive comparison as the main $! tree
            return json_fns.tree_get(qcol(pflat).cast("string"),
                                     rest)
        break
    return None


def _set_tree_json(df) -> Column | None:
    """Render the ``set $!…`` flat columns (``cee_*``) back into a
    nested JSON object. Deep paths come from the ``rs_path`` column
    metadata the Set statement records (varname's '!'→'_' flattening
    is lossy); columns without it (mm*-operator fields) are
    single-level keys. NULL leaves drop out (to_json omits nulls), so
    rows a gated set never touched render without the key; a row
    with no set leaf at all renders NULL."""
    if df is None:
        return None
    root: dict = {}
    for fld in df.schema.fields:
        if not fld.name.startswith("cee_"):
            continue
        meta = fld.metadata or {}
        path = meta.get("rs_path") or ("$!" + fld.name[len("cee_"):])
        segs = [s for s in path[2:].split("!") if s]
        if not segs:
            continue
        node = root
        for seg in segs[:-1]:
            nxt = node.get(seg)
            if not isinstance(nxt, dict):
                # a branch over an existing SCALAR leaf: keep the
                # scalar as the per-row fallback — rows where the
                # branch is NULL (e.g. a refused hierarchy-conflict
                # store, mmjsonparse-find-json-conflict.sh) render
                # the scalar, rows with branch values render the
                # object
                nxt = {} if nxt is None else {"\0self": nxt}
                node[seg] = nxt
            node = nxt
        leaf = _leaf_json_text(qcol(fld.name), meta)
        if isinstance(node.get(segs[-1]), dict):
            node[segs[-1]]["\0self"] = leaf
        else:
            node[segs[-1]] = leaf

    if not root:
        return None

    return _concat_obj(root)


def _leaf_json_text(leaf: Column, meta: dict) -> Column:
    """A flat variable column as JSON TEXT (NULL when unset). The
    tree renderers assemble nested objects by string concatenation —
    NOT to_json(struct(variant)) — because variant re-serialization
    SORTS object keys while libfastjson preserves insertion order
    (golden msg_json_set_regression.sh pins '{"keep","escape"}'
    order). ``rs_json`` columns hold a guaranteed JSON subtree —
    splice raw. ``rs_json_maybe`` columns (Set from a tree-var read)
    splice raw only when the text actually parses as an
    object/array, else embed as a JSON string (same gate and
    documented divergence as render_var_value)."""
    s = leaf.cast("string")
    if meta.get("rs_json"):
        # an explicit 'null' container is a VALUE (mmpstrucdata NIL
        # SD, parse_null_sd) — splice it; try_parse_json('null')
        # yields a variant null that must not drop the key
        return F.when(s == "null", s) \
            .when(F.try_parse_json(s).isNotNull(), s)
    # typed scalar → its JSON token via the 1-element-array trick
    # (to_json renders numbers/bools unquoted, strings escaped); (?s)
    # because Java's '.' does not match line terminators such as
    # U+0085 and U+2028, which to_json leaves raw
    scalar = F.when(leaf.isNotNull(), F.regexp_extract(
        F.to_json(F.array(leaf)), r"(?s)^\[(.*)\]$", 1))
    if meta.get("rs_json_maybe"):
        istree = (F.substring(s, 1, 1).isin("{", "[")
                  & F.try_parse_json(s).isNotNull())
        return F.when(istree, s).otherwise(scalar)
    return scalar


def _concat_obj(node: dict) -> Column:
    """{key: json-text-Column | nested dict} → the object's JSON
    text; NULL leaves drop out; all-NULL → NULL (caller decides
    whether that renders '{}' or nothing).

    Single-reference rule: every leaf and every nested object is
    referenced exactly ONCE in the result. A subexpression used
    twice is copied twice into the plan, and the copies multiply
    with each nesting level and each caller that reuses the tree
    (the renderers in this module, rainerscript._var_col), so
    concat (NULL when its value is) and concat_ws (skips NULL
    pieces) replace the NULL tests, and nullif turns the empty
    join into NULL (Catalyst evaluates its operand once)."""
    import json as _json

    pieces = []
    for k, v in node.items():
        if isinstance(v, dict):
            selfcol = v.pop("\0self", None)
            vj = _concat_obj(v)
            if selfcol is not None:
                # leaf+branch under one key: the branch object when
                # present, else the scalar (a row never has both —
                # the store under a scalar parent is REFUSED)
                vj = F.coalesce(vj, selfcol)
        else:
            vj = v
        pieces.append(F.concat(F.lit(_json.dumps(k) + ":"), vj))
    return F.concat(F.lit("{"),
                    F.nullif(F.concat_ws(",", *pieces), F.lit("")),
                    F.lit("}"))


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated and written into the
    plan once: a one-element ``transform`` hands it to ``body`` as a
    lambda variable. Catalyst has no user-facing let, and ``body``
    would otherwise copy ``value`` once per reference."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _tree_read(tree: Column, path: str) -> Column:
    """tree_get of ``path`` out of an assembled tree (``_all_json_col``,
    ``_local_tree_json``) — tree_get reads its input twice, so the
    tree is bound once."""
    from rsyslog_spark.functions.json_fns import tree_get

    return _let(tree, lambda t: tree_get(t, path))


def _local_tree_json(df=None) -> Column:
    """The whole ``$.`` tree as JSON text: flat ``local_*`` columns
    rebuilt into one object (NULL leaves drop out; no columns → NULL,
    which renders empty). Deep paths (``set $.x!a``) nest via the
    ``rs_path`` metadata Set records, like _set_tree_json. A
    ``local__root`` holder (written by ``set $. = <tree>``) merges
    under the flat values."""
    if df is None:
        return F.lit(None).cast("string")
    root: dict = {}
    for fld in df.schema.fields:
        if not fld.name.startswith("local_") \
                or fld.name == "local__root":
            continue
        meta = fld.metadata or {}
        path = meta.get("rs_path") or ("$." + fld.name[len("local_"):])
        segs = [s for s in path[2:].split("!") if s]
        if not segs:
            continue
        node = root
        for seg in segs[:-1]:
            nxt = node.get(seg)
            if not isinstance(nxt, dict):
                nxt = {}
                node[seg] = nxt
            node = nxt
        node[segs[-1]] = _leaf_json_text(qcol(fld.name), meta)

    # built is NULL (never "{}") on a row with no leaf set
    built = _concat_obj(root) if root else None
    root = (F.col("local__root").cast("string")
            if "local__root" in df.columns else None)
    if built is None and root is None:
        return F.lit(None).cast("string")
    if built is None:
        return root
    if root is None:
        return built
    return F.nullif(F.coalesce(built, root), F.lit("{}"))


def _all_json_col(df=None, empty: str | None = "{}") -> Column:
    """``%$!%`` / ``$!all-json``: the parsed tree merged with set-$!
    values. Set keys append after the parsed keys; when a set key
    also exists at the parsed top level, the parsed copy is DROPPED
    for that row so every key renders exactly once with the
    overriding value (the reference json_object_object_add replaces
    in place — ref: runtime/msg.c msgAddJSON). The dedup branch
    (map<string,variant> round-trip) only runs on rows with an
    actual collision; collision-free rows keep the raw string-concat
    (preserves the parsed text's original formatting)."""
    has_json = df is None or "json" in df.columns
    raw = F.col("json") if has_json else F.lit(None).cast("string")
    tree = F.coalesce(raw, F.lit("{}"))
    empty_lit = (F.lit(empty) if empty is not None
                 else F.lit(None).cast("string"))
    setobj = _set_tree_json(df)
    if setobj is None:
        return F.coalesce(raw, empty_lit)
    if not has_json:
        # no parsed tree: every merge arm below is dead
        return F.coalesce(setobj, empty_lit)

    def merge(setj):
        tkeys = F.coalesce(F.json_object_keys(tree), F.array())
        skeys = F.coalesce(F.json_object_keys(setj), F.array())
        # the parsed keys minus the set keys, without a lambda that
        # reads setj: a nested lambda capturing this one's variable
        # keeps a Python UDF over the result from being extracted
        # (unflatten($!) fails to plan)
        tmap = F.from_json(tree, "map<string,variant>")
        kept = F.array_except(F.map_keys(tmap), skeys)
        dedup = F.to_json(F.map_concat(
            F.map_from_arrays(
                kept, F.transform(kept, lambda k: F.element_at(tmap, k))),
            F.from_json(setj, "map<string,variant>")))
        return (F.when((setj == "{}") & raw.isNull(), empty_lit)
                .when(setj == "{}", tree)
                .when(tree == "{}", setj)
                .when(F.arrays_overlap(tkeys, skeys), dedup)
                .otherwise(F.concat(
                    F.regexp_replace(tree, r"\}\s*$", ""), F.lit(","),
                    F.regexp_replace(setj, r"^\{", ""))))

    return _let(F.coalesce(setobj, F.lit("{}")), merge)


#: the key set and order of %jsonmesg% (ref: runtime/msg.c
#: msgGetJSONMESG — every core property as a string, then the $! tree
#: under "$!")
_JSONMESG_KEYS = (
    "msg", "rawmsg", "timestamp", "hostname", "syslogtag",
    "inputname", "fromhost", "fromhost-ip", "fromhost-port", "pri",
    "syslogfacility", "syslogseverity", "timegenerated",
    "programname", "protocol-version", "structured-data", "app-name",
    "procid", "msgid", "uuid",
)


def _jsonmesg_col(df=None) -> Column:
    """%jsonmesg% (ref: msg.c PROP_JSONMESG / msgGetJSONMESG): the
    WHOLE message as one JSON object — each core property rendered as
    its default property-replacer string, plus the ``$!`` tree under
    the key ``"$!"``. Assembled as to_json(struct(...)) (field order
    preserved) with the raw tree spliced in, since to_json can't
    embed pre-rendered JSON."""
    fields = []
    for key in _JSONMESG_KEYS:
        out_key = "timereported" if key == "timestamp" else key
        if df is not None:
            col, _ = _PROP_ALIASES.get(key, (key, None))
            if (col not in df.columns
                    and key not in ("timestamp", "timegenerated")
                    and not key.startswith("$")):
                fields.append(F.lit("").alias(out_key))
                continue
        v = Prop(key).col(df)
        fields.append(F.coalesce(rs_str(v), F.lit("")).alias(out_key))
    head = F.to_json(F.struct(*fields))
    out = F.concat(F.regexp_replace(head, r"\}$", ""),
                   F.lit(', "$!": '), _all_json_col(df),
                   F.lit(" }"))
    if compact_json_string():
        return out
    # json-c SPACED render (msg.c jsonToString → glblJsonFormatOpt;
    # reference golden prop-jsonmesg-vg.sh greps '"msg": "...", ')
    from rsyslog_spark.functions.json_fns import jsonc_spaced
    return _let(out, jsonc_spaced)


def _pri_text(which: str) -> Column:
    """severity/facility numeric → keyword text (ref: tools/syslogd.c
    keyword tables) as a literal-array lookup — pure codegen."""
    from rsyslog_spark.schema import FACILITIES, SEVERITIES

    if which == "syslogseverity-text":
        names = [""] * 8
        for k, v in SEVERITIES.items():
            if not names[v]:
                names[v] = k
        # F.get is 0-based and NULL-safe out of range (facility 24+)
        return F.get(F.array(*[F.lit(x) for x in names]),
                     F.col("syslogseverity"))
    names = [""] * 25   # 24 = "invld" (msg.c syslog_fac_names)
    for k, v in FACILITIES.items():
        if not names[v]:
            names[v] = k
    return F.get(F.array(*[F.lit(x) for x in names]),
                 F.col("syslogfacility"))


@dataclass
class Prop:
    """One ``%property:from:to:options%`` template entry
    (ref: template.h:97-182).

    - substring: from/to char positions (1-based, inclusive, like the
      replacer), or field extraction when ``field_delim`` is set
      (``%msg:F,58:3%`` → 3rd field split on char 58).
    - regex extract with nomatch policy blank|dflt|whole|zero
      (template.h:125-140).
    - case conversion, date formats, escaping.
    """

    name: str
    frm: int | None = None
    to: int | None = None
    field_delim: str | None = None
    field_num: int | None = None
    regex: str | None = None
    regex_match: int = 0             # which occurrence (0-based)
    regex_submatch: int = 0
    regex_nomatch: str = "blank"     # blank | dflt | whole | zero
    regex_dflt: str = "**NO MATCH**"  # DFLT insert (msg.c:4195)
    case: str | None = None          # upper | lower
    date_format: str | None = None   # rfc3339 | rfc3164 | unixtimestamp | mysql | pgsql | year...|
    date_in_utc: bool = False        # date.inUTC (template.c:2442)
    escape: str | None = None        # csv | json | jsonr | stdsql | mysql
    cc_mode: str | None = None       # controlcharacters drop|space|escape|escape-octal
    securepath: str | None = None    # drop | replace
    rel_to_end: bool = False         # position.relativetoend
    fixed_width: bool = False        # fixedwidth="on": pad to to-from+1
    space_if_no_first_space: bool = False   # sp-if-no-1st-sp option
    strip_last_lf: bool = False             # drop-last-lf option
    compress_space: bool = False            # compressSpace option

    def _resolve(self) -> tuple[str, str | None]:
        """Map legacy property spellings (ref: runtime/msg.c
        propNameToID; doc property_replacer.rst) onto engine columns.
        The legacy TIMESTAMP spelling renders RFC3164 by default (the
        reference's default date format); the engine-native
        ``timereported`` name keeps plain string rendering."""
        lo = self.name.lower()
        alias = _PROP_ALIASES.get(lo)
        if alias is None:
            return self.name, None
        col, default_date = alias
        return col, default_date

    def col(self, df=None) -> Column:
        name, default_date = self._resolve()
        c = rs_str(prop_col(name, df))
        # timereported renders as the ORIGINAL wall clock: the wire
        # TZ offset (tz_offset_sec column) shifts the stored UTC
        # instant back (ref: datetime.c formatTimestamp3164 uses the
        # parsed syslogTime fields verbatim; golden
        # parsertest-parse1.sh '...05:14:15.000003-07:00' renders
        # 'Aug 24 05:14:15')
        offs = None
        zulu = None
        prec = None
        if (name == "timereported"
                and df is not None and "tz_offset_sec" in df.columns):
            # per-row: NULL = no wire zone → session-local semantics
            # in _apply_date (parsed offsets pass through, Z → 0)
            offs = F.col("tz_offset_sec")
            if "tz_zulu" in df.columns:
                zulu = F.col("tz_zulu")
            if "secfrac_prec" in df.columns:
                prec = F.col("secfrac_prec")
        # date formatting applies to the property FETCH, before
        # field/substring/regex processing (template.c: the date is
        # rendered into the property string first — golden
        # parsertest-parse3.sh '%timereported:1:19:date-rfc3339%'
        # substrings the RENDERED date)
        if self.date_format is not None:
            c = self._apply_date(c, None, offs, zulu, prec)
        elif default_date is not None:
            c = self._apply_date(c, default_date, offs, zulu, prec)
        if self.field_delim is not None:
            from rsyslog_spark.functions.strings import field as field_fn
            c = field_fn(c, self.field_delim, self.field_num or 1,
                         # template F-field sentinel differs from the
                         # script field() one: TWO asterisks (msg.c:
                         # 4153 "**FIELD NOT FOUND**" vs
                         # rainerscript.c:2655 "***...***"; golden
                         # discard-rptdmsg.sh F,58:4)
                         not_found="**FIELD NOT FOUND**")
        elif self.rel_to_end and (self.frm or self.to):
            # position.relativetoend (msg.c:4284-4287): from/to count
            # back from the END, 0-based, clamped to the string start
            frm, to = self.frm or 0, self.to or 0
            ln = F.length(c)
            f0 = F.when(ln < frm, F.lit(0)).otherwise(ln - frm)
            t0 = F.when(ln < to, F.lit(0)).otherwise(ln - to)
            c = F.when(f0 >= ln, F.lit("")).otherwise(
                c.substr(f0 + 1, F.greatest(t0 - f0 + F.lit(1),
                                            F.lit(0))))
        elif self.frm is not None or self.to is not None:
            frm, to = self.frm or 1, self.to
            if to is not None and to < 0:
                # negative to: offset from the end, 0-based clamp
                # (msg.c:4292-4298 'we ADD negative value')
                t0 = F.greatest(F.length(c) - 1 + to, F.lit(0))
                c = F.when(F.lit(frm) > F.length(c), F.lit("")) \
                    .otherwise(c.substr(
                        F.lit(frm),
                        F.greatest(t0 - F.lit(frm - 1) + F.lit(1),
                                   F.lit(0))))
            else:
                if to is not None and frm > to:
                    # from>to normalizes by swapping (template.c
                    # parse; transformations golden legacy_swap)
                    frm, to = to, frm
                length = (to - frm + 1) if to is not None else (1 << 30)
                c = c.substr(F.lit(frm), F.lit(length))
                if self.fixed_width and to is not None:
                    # fixedwidth="on": short values pad with spaces
                    # up to the requested width (msg.c:4306-4345
                    # skips the iTo clamp, the copy loop pads ' ')
                    c = F.rpad(c, to - frm + 1, " ")
        if self.space_if_no_first_space:
            # AFTER substring (msg.c:4353): renders one space iff the
            # (non-empty) value does not begin with one; empty stays
            # empty
            return (F.when(F.length(c) == 0, F.lit(""))
                    .when(c.startswith(" "), F.lit(""))
                    .otherwise(F.lit(" ")))
        if self.regex is not None:
            if self.regex_match > 0:
                # regex.match=N: the N-th occurrence (0-based —
                # property_replacer regex 'match to use')
                got = F.coalesce(F.try_element_at(
                    F.regexp_extract_all(
                        c, F.lit(f"({self.regex})"),
                        F.lit(self.regex_submatch + 1)),
                    F.lit(self.regex_match + 1)), F.lit(""))
            else:
                got = F.regexp_extract(c, self.regex,
                                       self.regex_submatch)
            if self.regex_nomatch == "blank":
                c = got
            elif self.regex_nomatch == "dflt":
                c = F.when(got == "", F.lit(self.regex_dflt)).otherwise(got)
            elif self.regex_nomatch == "whole":
                c = F.when(got == "", c).otherwise(got)
            elif self.regex_nomatch == "zero":
                c = F.when(got == "", F.lit("0")).otherwise(got)
        # option order is the reference's MsgGetProp sequence: case
        # conversion (4366) → control-characters (4401) → securepath
        # (4519) → droplastlf (4608, suppressed by escape-cc) →
        # compressspace (4635) → csv/json family last (4693)
        if self.case == "upper":
            c = F.upper(c)
        elif self.case == "lower":
            c = F.lower(c)
        if self.cc_mode is not None:
            c = controlchar_escape(c, self.cc_mode)
        if self.securepath is not None:
            c = secpath_sanitize(c, self.securepath)
        if self.strip_last_lf and self.cc_mode != "escape":
            c = F.regexp_replace(c, r"\n$", "")
        if self.compress_space:
            # compressSpace (ref: msg.c:4632-4686): runs of SPACE
            # characters (only ' ') collapse to one, after all other
            # processing and before escaping
            c = F.regexp_replace(c, "  +", " ")
        if self.escape is not None:
            c = {
                "csv": csv_escape, "json": json_escape,
                "jsonr": jsonr_escape,
                "stdsql": stdsql_escape, "mysql": mysql_escape,
                # legacy alias kept for compiled-config reloads
                "controlchar":
                    lambda x: controlchar_escape(x, "escape"),
            }[self.escape](c)
        return c

    def _apply_date(self, c: Column, fmt_override: str | None = None,
                    offs: Column | None = None,
                    zulu: Column | None = None,
                    prec: Column | None = None) -> Column:
        """Date formats over a TIMESTAMP-castable property
        (template.h:72-96). ``offs``: wire TZ offset seconds — wall-
        clock formats shift by it so the ORIGINAL local time renders
        (unixtimestamp stays epoch-true). ``date.inUTC`` converts to
        the UTC wall clock instead (msg.c getTimeUTC:
        timeConvertToUTC then format — tz parts render 00/00/+)."""
        ts = (c).try_cast("timestamp")
        fmt = fmt_override or self.date_format
        sess_tz = F.expr("current_timezone()")
        utc_session = False
        if self.date_in_utc:
            # the stored instant IS UTC; under a non-UTC session tz
            # date_format renders session-local, so shift back
            wall = F.to_utc_timestamp(ts, sess_tz)
            offs = None
            utc_session = True
        elif offs is None:
            # no wire-zone concept (timegenerated & co): daemon-local
            # wall clock, i.e. the session timezone's render
            wall = ts
        else:
            # per-row: a NULL tz_offset_sec means the wire carried no
            # zone — the reference fills the parsed syslogTime with
            # the daemon's LOCAL zone (datetime.c ParseTIMESTAMP3164
            # inherits the reception offset), i.e. session-local
            # here; a non-NULL offset re-renders the ORIGINAL wire
            # wall clock (datetime.c formatTimestamp* use the parsed
            # fields verbatim). from_utc_timestamp makes the shifted
            # wall render correctly under ANY session timezone.
            offs0 = F.coalesce(offs, F.lit(0))
            wall = F.when(offs.isNull(), ts).otherwise(
                F.to_utc_timestamp(
                    ts + F.make_dt_interval(secs=offs0), sess_tz))
        from rsyslog_spark.functions.time_fns import _rfc3164
        # fractional seconds at parsed precision (datetime.c
        # formatTimestamp3339 emits them when secfracPrecision > 0;
        # micros-are-zero approximates precision 0) — zone shifts are
        # whole minutes, so the fraction comes from the instant
        frac6 = F.date_format(ts, "SSSSSS")
        fracpart = F.when(frac6 == "000000", F.lit("")) \
            .otherwise(F.concat(F.lit("."), frac6))
        if prec is not None:
            # render the fraction at the PARSED digit count
            # (syslogTime secfracPrecision, capped at 6 by
            # getNormalizedSecFracPower — '.003' stays 3 digits,
            # '.0300000' renders '.030000'); NULL precision keeps
            # the engine default above
            p6 = F.least(prec, F.lit(6))
            fracpart = F.when(prec.isNull(), fracpart) \
                .when(prec <= 0, F.lit("")) \
                .otherwise(F.concat(F.lit("."),
                                    F.substring(frac6, 1, 6)
                                    .substr(F.lit(1), p6)))
        # session-zone suffix at instant ts ("xxx" → "+00:00" form,
        # DST-correct per row)
        sess_offstr = F.date_format(ts, "xxx")
        if fmt == "rfc3339":
            if offs is None:
                return F.concat(
                    F.date_format(wall, "yyyy-MM-dd'T'HH:mm:ss"),
                    fracpart,
                    F.lit("+00:00") if utc_session else sess_offstr)
            offs0 = F.coalesce(offs, F.lit(0))
            sign = F.when(offs0 < 0, F.lit("-")).otherwise(F.lit("+"))
            aoff = F.abs(offs0)
            offstr = F.when(offs.isNull(), sess_offstr).otherwise(
                F.concat(
                    sign, F.lpad((aoff / 3600).cast("int"), 2, "0"),
                    F.lit(":"),
                    F.lpad(((aoff % 3600) / 60).cast("int"), 2, "0")))
            if zulu is not None:
                # wire 'Z' re-renders as 'Z' (datetime.c
                # formatTimestamp3339:945 OffsetMode)
                offstr = F.when(zulu, F.lit("Z")).otherwise(offstr)
            return F.concat(
                F.date_format(wall, "yyyy-MM-dd'T'HH:mm:ss"),
                fracpart, offstr)
        if fmt == "rfc3164":
            return _rfc3164(wall)
        if fmt == "rfc3164-buggyday":
            # old sysklogd zero-padded day ("Mar 07") — template.c
            # tplFmtRFC3164BuggyDate (golden
            # parsertest-parse-3164-buggyday.sh)
            return F.date_format(wall, "MMM dd HH:mm:ss")
        if fmt == "unixtimestamp":
            # out-of-range years render 0 (datetime.c
            # syslogTime2time_t:1022 guard — goldens
            # timegenerated-uxtimestamp-invld.sh). The RANGE check is
            # on the WALL-CLOCK year like the C (parsed fields).
            return F.when(
                (F.year(wall) < 1970) | (F.year(wall) > 2100),
                F.lit("0")) \
                .otherwise(F.unix_timestamp(ts).cast("string"))
        if fmt == "mysql":
            return F.date_format(wall, "yyyyMMddHHmmss")
        if fmt == "pgsql":
            return F.date_format(wall, "yyyy-MM-dd HH:mm:ss")
        if fmt == "subseconds":
            # secfrac digits at parsed precision; no fraction → "0"
            # (msg.c tplFmtSecFrac / formatTimestampSecFrac)
            if prec is not None:
                exact = F.when(
                    prec > 0,
                    F.substring(frac6, 1, 6)
                    .substr(F.lit(1), F.least(prec, F.lit(6)))) \
                    .otherwise(F.lit("0"))
            else:
                exact = None
            stripped = F.regexp_replace(frac6, "0+$", "")
            if exact is not None:
                return F.when(prec.isNotNull(), exact).otherwise(
                    F.when(stripped == "", F.lit("0"))
                    .otherwise(stripped))
            return F.when(stripped == "", F.lit("0")) \
                .otherwise(stripped)
        if fmt == "wdayname":
            return F.date_format(wall, "EEE")   # Sun/Mon/... (msg.c
            # wdayNames[getWeekdayNbr], English names)
        if fmt == "wday":
            # 0=Sunday (datetime.c getWeekdayNbr)
            return (F.dayofweek(wall) - 1).cast("string")
        if fmt == "ordinal":
            # 1-based day of year, THREE digits (msg.c
            # daysInYear[getOrdinal] — the table holds "001".."366";
            # golden timegenerated-dateordinal.sh)
            return F.lpad(F.dayofyear(wall).cast("string"), 3, "0")
        if fmt == "week":
            # datetime.c getWeek: pin Jan 1 as week start, then
            # adjust when the current weekday precedes Jan 1's
            # (NOT ISO 8601 — golden: 2003-08-24 → 35)
            yd0 = F.dayofyear(wall) - 1
            wk = F.floor((yd0 + F.lit(6)) / 7)
            curdow = F.dayofweek(wall) - 1
            jan1dow = F.dayofweek(F.trunc(wall, "year")) - 1
            wk = wk + F.when(curdow < jan1dow, 1).otherwise(0)
            return F.lpad(wk.cast("int").cast("string"), 2, "0")
        if fmt in ("iso-week", "iso-week-year"):
            # ISO 8601 week via the Thursday rule (datetime.c
            # getISOWeek — equivalent closed form; Spark bans the
            # week-based 'w'/'Y' patterns). Render: zero-padded week,
            # plain year; outside 1970-2099 the reference emits a
            # fixed error string (msg.c formatISOWeekOrYear:1624).
            dow = ((F.dayofweek(wall) + 5) % 7) + 1   # Mon=1..Sun=7
            thu = F.date_add(wall.cast("date"), 4 - dow)
            oor = (F.year(wall) < 1970) | (F.year(wall) > 2099)
            if fmt == "iso-week-year":
                val = F.year(thu).cast("string")
            else:
                wk = (F.floor((F.dayofyear(thu) - 1) / 7) + 1)
                val = F.lpad(wk.cast("int").cast("string"), 2, "0")
            return F.when(oor, F.lit("YEAR OUT OF RANGE(1970-2099)")
                          ).otherwise(val)
        if fmt in ("tzoffshour", "tzoffsmin", "tzoffsdirection"):
            # session-zone seconds for rows without a wire zone
            # (date.inUTC keeps 00/00/+ — msg.c getTimeUTC)
            sess_sec = (F.when(F.substring(sess_offstr, 1, 1) == "-",
                               F.lit(-1)).otherwise(F.lit(1))
                        * (F.substring(sess_offstr, 2, 2).cast("int")
                           * 3600
                           + F.substring(sess_offstr, -2, 2)
                           .cast("int") * 60))
            if offs is not None:
                o = F.coalesce(offs, sess_sec)
            else:
                o = F.lit(0) if utc_session else sess_sec
            if fmt == "tzoffsdirection":
                return F.when(o < 0, F.lit("-")).otherwise(F.lit("+"))
            aoff = F.abs(o)
            n = (F.floor(aoff / 3600) if fmt == "tzoffshour"
                 else F.floor((aoff % 3600) / 60))
            return F.lpad(n.cast("int").cast("string"), 2, "0")
        simple = {
            "year": "yyyy", "month": "MM", "day": "dd", "hour": "HH",
            "minute": "mm", "second": "ss",
        }
        if fmt in simple:
            return F.date_format(wall, simple[fmt])
        raise ValueError(f"unknown date format {fmt!r}")


@dataclass
class Template:
    """String template: constant parts + Prop entries
    (ref: tplConstructFromString, template type 'string'/'list')."""

    parts: list  # str constants and Prop entries
    source: str | None = None   # original template string (dynafile
                                # partition-spec extraction needs it)

    def col(self, df=None) -> Column:
        cols: list[Column] = []
        for p in self.parts:
            cols.append(F.lit(p) if isinstance(p, str) else p.col(df))
        return F.concat(*cols) if cols else F.lit("")


def jsonf(pairs: dict[str, ColumnOrName]) -> Column:
    """jsonf-style template: named fields → one JSON object per row
    (ref: template.h:165-178 jsonf name/value). Uses to_json(struct)
    so Catalyst emits a single JSON writer."""
    return F.to_json(F.struct(*[_c(v).alias(k) for k, v in pairs.items()]))


def csv_line(cols: list[ColumnOrName]) -> Column:
    """RFC4180 line: every field csv-escaped, comma-joined."""
    return F.concat_ws(",", *[csv_escape(c) for c in cols])


class _JsonfTemplate:
    """``template(type="list" option.jsonf="on")`` (ref: template.h:
    165-178 jsonf; msg.c jsonEncode:3533-3595 for the per-field
    dataType conversions; template.c tplJsonRenderChildren:488 for
    the '", "' separator — goldens json-nonstring.sh,
    json-omitifzero.sh, json-whitespace.sh, json-onempty-at-end.sh,
    all byte-exact):

    * number: value whitespace-trimmed; empty → ``0``; omitIfZero
      drops the fragment when the trimmed value is exactly "0"; the
      bytes otherwise emit UNVALIDATED, as the reference does.
    * bool: exactly "0" → false, anything else → true.
    * auto: non-empty all-'0'-'9' bytes emit unquoted, everything
      else (signs, dots, empty) quoted — the reference inspects the
      RENDERED BYTES, not the variable's JSON node type.
    * string (default): always quoted, never trimmed.
    * onEmpty skip drops the fragment (concat_ws skips NULLs),
      onEmpty null emits ``"name":null``; omitIfZero applies only to
      dataType number (a string "0" stays)."""

    def __init__(self, elements: list[tuple[str, dict]],
                 tree: bool = False, casesensitive: bool = False):
        self.elements = elements
        self.tree = tree
        # template.c apply_case_sensitivity: unless
        # option.casesensitive, VARIABLE property entries fold their
        # field name (outname) lowercase too — mmsnareparse-json.sh
        # content-checks '"eventid":...' for outname="EventID"
        self.casesensitive = casesensitive
        self.source = None

    def _fragments(self, df) -> list[tuple[str | None, Column]]:
        """(outname-or-None, fragment) per entry. Constants with
        format=jsonf contribute `"name": "value"` fragments in the
        json-c colon-space form (template.c constantTpe builds the
        fragment through json-c — golden template-const-jsonf.sh);
        other constants yield (None, literal) and make a jsonf
        container unsupported in the reference."""
        out: list[tuple[str | None, Column]] = []
        for kind, p in self.elements:
            if kind == "constant":
                if str(p.get("format", "")).lower() == "jsonf":
                    key = p.get("outname")
                    if not key:
                        raise ValueError(
                            "constant format=jsonf needs outname=")
                    val = str(p.get("value", ""))
                    esc = val.replace("\\", "\\\\") \
                        .replace('"', '\\"')
                    out.append((key, F.lit(
                        f'"{key}": "{esc}"')))
                continue
            if kind != "property":
                continue
            frag = self._prop_fragment(p, df)
            if frag is not None:
                key = str(p.get("outname", p.get("name")))
                if not getattr(self, "casesensitive", False) \
                        and str(p.get("name", "")).lstrip("$") \
                        .startswith(("!", ".", "/")):
                    key = key.lower()
                out.append((key, frag))
        return out

    def col(self, df=None) -> Column:
        if self.tree:
            return self._tree_col(df)
        frags = [f for _k, f in self._fragments(df)]
        return F.concat(F.lit("{"), F.concat_ws(", ", *frags),
                        F.lit("}"))

    def _tree_col(self, df=None) -> Column:
        """option.jsonftree: dotted outnames build NESTED objects
        (template.c tplBuildJsonTree; goldens template-jsonf-nested
        .sh). A structural CONFLICT — a key that is both a leaf and
        a branch prefix — falls back to the FLAT jsonf render with
        the full dotted names (template-jsonf-nested-fallback-flat
        .sh)."""
        frags = self._fragments(df)
        paths = [tuple(str(k).split(".")) for k, _ in frags]
        seen = set()
        conflict = False
        for pth in paths:
            if pth in seen:
                continue
            for i in range(1, len(pth)):
                if pth[:i] in seen:
                    conflict = True
            seen.add(pth)
        branch_prefixes = {p[:i] for p in paths
                           for i in range(1, len(p))}
        if any(p in branch_prefixes for p in paths):
            conflict = True
        if conflict:
            out_frags = [f for _k, f in frags]
            return F.concat(F.lit("{"),
                            F.concat_ws(", ", *out_frags),
                            F.lit("}"))

        # group fragments under their branches, order preserved
        def build(items, depth):
            cols: list[Column] = []
            i = 0
            while i < len(items):
                pth, frag = items[i]
                if len(pth) == depth + 1:
                    # leaf: rewrite the fragment key to the last seg
                    cols.append(frag)
                    i += 1
                    continue
                seg = pth[depth]
                group = []
                while i < len(items) and len(items[i][0]) > depth \
                        and items[i][0][depth] == seg:
                    group.append(items[i])
                    i += 1
                inner = build(group, depth + 1)
                cols.append(F.concat(
                    F.lit(f'"{seg}": {{'), inner, F.lit("}")))
            return F.concat_ws(", ", *cols)

        # leaf fragments carry the FULL dotted key; rebuild them
        # with just the last segment for the nested form
        rekeyed = []
        for (k, frag), pth in zip(frags, paths):
            if len(pth) > 1:
                old = f'"{k}":'
                last = f'"{pth[-1]}":'
                frag = F.replace(frag, F.lit(old), F.lit(last))
            rekeyed.append((pth, frag))
        return F.concat(F.lit("{"), build(rekeyed, 0), F.lit("}"))

    def _prop_fragment(self, p: dict, df=None):
        name = p.get("name")
        if not name:
            raise ValueError("property() needs name=")
        key = str(p.get("outname", name)).replace('"', '\\"')
        if not getattr(self, "casesensitive", False) \
                and str(name).lstrip("$").startswith(("!", ".", "/")):
            key = key.lower()
        dfmt = p.get("dateFormat", p.get("dateformat"))
        if dfmt:
            # dateformat applies to the property value before the
            # jsonf wrap (template.c: the entry's pTpe carries its
            # date options into MsgGetProp; msgdup_props.sh renders
            # timereported twice, plain and rfc3339)
            sv = rs_str(Prop(name, date_format=dfmt).col(df))
        else:
            sv = rs_str(prop_col(name, df))
        dt = p.get("dataType", p.get("datatype", "string")).lower()
        omit0 = str(p.get("omitIfZero",
                          p.get("omitifzero", "off"))).lower() \
            in ("on", "true", "1")
        # jsonfr: the raw variant — pre-escaped sequences pass
        # through (msg.c jsonField with RSFALSE)
        esc = (jsonr_escape
               if str(p.get("format", "")).lower() == "jsonfr"
               else json_escape)
        skip0 = None
        if dt == "number":
            t = F.trim(sv)
            if omit0:
                skip0 = t == "0"
            val = F.when(F.length(t) == 0, F.lit("0")).otherwise(t)
        elif dt == "bool":
            val = F.when(sv == "0", F.lit("false")) \
                .otherwise(F.lit("true"))
        elif dt == "auto":
            val = F.when((F.length(sv) > 0) & sv.rlike(r"^\d+$"),
                         sv) \
                .otherwise(F.concat(F.lit('"'), esc(sv),
                                    F.lit('"')))
        else:
            val = F.concat(F.lit('"'), esc(sv), F.lit('"'))
        frag = F.concat(F.lit(f'"{key}":'), val)
        on_empty = p.get("onEmpty",
                         p.get("onempty", "keep")).lower()
        empty = F.length(sv) == 0
        if on_empty == "skip":
            frag = F.when(empty, F.lit(None)).otherwise(frag)
        elif on_empty == "null":
            frag = F.when(empty, F.lit(f'"{key}":null')) \
                .otherwise(frag)
        if skip0 is not None:
            frag = F.when(skip0, F.lit(None)).otherwise(frag)
        return frag


@dataclass
class _JsonfProp:
    """A property(format="jsonf") entry inside a PLAIN list template:
    renders the jsonf field fragment ('"name": value', full dataType/
    omitIfZero/onEmpty semantics) in-line with the other parts. An
    omitted fragment (onEmpty=skip / omitIfZero) contributes the
    empty string so the surrounding concat survives."""

    p: dict

    def col(self, df=None) -> Column:
        frag = _JsonfTemplate([("property", self.p)]) \
            ._prop_fragment(self.p, df)
        if frag is None:
            return F.lit("")
        return F.coalesce(frag, F.lit(""))


def compile_template_list(elements: list[tuple[str, dict]],
                          casesensitive: bool = False,
                          tpl_name: str = "template") -> "Template":
    """v2 list template (ref: template.h:40-60 list type; doc
    templates.rst ``template(type="list") { constant(...)
    property(...) }``). Each property statement maps onto the same
    :class:`Prop` options the string replacer compiles to; jsonf
    naming params (outname/onEmpty/mandatory) are accepted no-ops in
    the string-rendering path. Unknown params raise — silent drops
    would hide template bugs from config authors."""
    parts: list = []
    for kind, p in elements:
        if kind == "constant":
            if str(p.get("format", "")).lower() == "jsonf":
                # a jsonf-formatted constant renders its FRAGMENT
                # (json-c colon-space form) even in a plain list
                # template (golden template-const-jsonf.sh)
                key = p.get("outname")
                if not key:
                    raise ValueError(
                        "constant format=jsonf needs outname=")
                val = str(p.get("value", "")) \
                    .replace("\\", "\\\\").replace('"', '\\"')
                parts.append(f'"{key}": "{val}"')
            else:
                parts.append(p.get("value", ""))
            continue
        if kind == "property" \
                and str(p.get("format", "")).lower() in ("jsonf",
                                                         "jsonfr"):
            # property format="jsonf" in a PLAIN list template still
            # renders the '"name": value' field fragment — same
            # per-entry path option.jsonf uses (template.c
            # tplJsonRenderValue applies per ENTRY, not per template;
            # golden msgdup_props.sh all_properties template)
            parts.append(_JsonfProp(p))
            continue
        kw: dict = {}
        name = p.get("name")
        if not name:
            raise ValueError("property() needs name=")
        def _on(v) -> bool:
            return str(v).lower() in ("on", "true", "1")

        for k, v in p.items():
            lk = k.lower()
            if lk in ("name", "outname", "onempty", "mandatory",
                      "datatype"):
                # naming/typing for jsonf containers — no-op when the
                # list renders as a string line
                continue
            if lk == "format":
                # csv/json/jsonr as the final escape stage; jsonf and
                # jsonfr were intercepted above (field fragments)
                fv = str(v).lower()
                if fv == "csv":
                    kw["escape"] = "csv"
                elif fv == "json":
                    kw["escape"] = "json"
                elif fv == "jsonr":
                    kw["escape"] = "jsonr"
                else:
                    raise ValueError(f"unknown format {v!r}")
            elif lk == "caseconversion":
                kw["case"] = v                      # upper | lower
            elif lk == "dateformat":
                kw["date_format"] = v
            elif lk == "date.inutc":
                kw["date_in_utc"] = _on(v)
            elif lk == "position.from":
                kw["frm"] = int(v)
            elif lk == "position.to":
                kw["to"] = int(v)
            elif lk == "position.relativetoend":
                kw["rel_to_end"] = _on(v)
            elif lk == "fixedwidth":
                kw["fixed_width"] = _on(v)
            elif lk == "field.number":
                kw["field_num"] = int(v)
            elif lk == "field.delimiter":
                kw["field_delim"] = chr(int(v))
            elif lk == "regex.expression":
                kw["regex"] = v
            elif lk == "regex.type":
                # ERE|BRE (template.c regex.type) — the compiled
                # Java regex accepts the ERE forms used in goldens;
                # BRE metachar quirks are out of scope (documented)
                if str(v).upper() not in ("ERE", "BRE"):
                    raise ValueError(f"unknown regex.type {v!r}")
            elif lk == "regex.match":
                # regexec pmatch[] is fixed at 10 slots — reject
                # out-of-range indexes at CONFIG time (template.c
                # validation; golden template-regex-index-bounds.sh)
                if not (0 <= int(v) <= 9):
                    raise ValueError(
                        f"template {tpl_name} error: regex.match="
                        f"{v} is invalid (supported range 0..9)")
                kw["regex_match"] = int(v)
            elif lk == "regex.submatch":
                if not (0 <= int(v) <= 9):
                    raise ValueError(
                        f"template {tpl_name} error: regex.submatch="
                        f"{v} is invalid (supported range 0..9)")
                kw["regex_submatch"] = int(v)
            elif lk == "regex.nomatchmode":
                kw["regex_nomatch"] = {"BLANK": "blank", "DFLT": "dflt",
                                       "FIELD": "whole", "ZERO": "zero"
                                       }.get(str(v).upper(), "blank")
            elif lk == "compressspace":
                kw["compress_space"] = _on(v)
            elif lk == "controlcharacters":
                cv = str(v).lower()
                if cv not in ("drop", "space", "escape",
                              "escape-octal"):
                    raise ValueError(
                        f"unknown controlcharacters mode {v!r}")
                kw["cc_mode"] = cv
            elif lk == "securepath":
                sv = str(v).lower()
                if sv not in ("drop", "replace"):
                    raise ValueError(
                        f"unknown securepath mode {v!r}")
                kw["securepath"] = sv
            elif lk == "spifno1stsp":
                kw["space_if_no_first_space"] = _on(v)
            elif lk == "droplastlf":
                kw["strip_last_lf"] = _on(v)
            else:
                raise ValueError(f"unsupported property param {k!r}")
        if not casesensitive and name.lstrip("$").startswith(
                ("!", ".", "/")):
            # template option.casesensitive default: var names fold
            # (ref template.c apply_case_sensitivity)
            name = name.lower()
        parts.append(Prop(name, **kw))
    return Template(parts)


_TPL_TOKEN = _re.compile(r"%([^%]*)%")

#: the reference parses template integers into C int (template.c
#: do_Parameter strtol guards — "... in template is too large")
_TPL_INT_MAX = 0x7FFFFFFF

_TPL_OPTIONS = {
    "lowercase": dict(case="lower"),
    "compressspace": dict(compress_space=True),
    "uppercase": dict(case="upper"),
    "date-rfc3339": dict(date_format="rfc3339"),
    "date-rfc3164": dict(date_format="rfc3164"),
    "date-rfc3164-buggyday": dict(date_format="rfc3164-buggyday"),
    "date-unixtimestamp": dict(date_format="unixtimestamp"),
    "date-mysql": dict(date_format="mysql"),
    "date-pgsql": dict(date_format="pgsql"),
    "date-year": dict(date_format="year"),
    "date-month": dict(date_format="month"),
    "date-day": dict(date_format="day"),
    "date-hour": dict(date_format="hour"),
    "date-minute": dict(date_format="minute"),
    "date-second": dict(date_format="second"),
    "date-subseconds": dict(date_format="subseconds"),
    "date-wdayname": dict(date_format="wdayname"),
    "date-wday": dict(date_format="wday"),
    "date-ordinal": dict(date_format="ordinal"),
    "date-iso-week": dict(date_format="iso-week"),
    "date-iso-week-year": dict(date_format="iso-week-year"),
    "date-week": dict(date_format="week"),
    "date-tzoffshour": dict(date_format="tzoffshour"),
    "date-tzoffsmin": dict(date_format="tzoffsmin"),
    "date-tzoffsdirection": dict(date_format="tzoffsdirection"),
    "date-utc": dict(date_in_utc=True),
    "csv": dict(escape="csv"),
    "json": dict(escape="json"),
    "jsonr": dict(escape="jsonr"),
    # jsonf/jsonfr handled structurally in compile_template_string
    # (they render a '"name":value' FIELD fragment, msg.c jsonField)
    "sql": dict(escape="mysql"),
    "stdsql": dict(escape="stdsql"),
    "drop-cc": dict(cc_mode="drop"),
    "space-cc": dict(cc_mode="space"),
    "escape-cc": dict(cc_mode="escape"),
    "fixed-width": dict(fixed_width=True),
    "pos-end-relative": dict(rel_to_end=True),
    "secpath-drop": dict(securepath="drop"),
    "secpath-replace": dict(securepath="replace"),
    "sp-if-no-1st-sp": dict(space_if_no_first_space=True),
    "drop-last-lf": dict(strip_last_lf=True),
}


# Built-in templates (ref: runtime/template.c tplAddLine defaults) —
# registered into every parsed config so stock distro configs that
# reference RSYSLOG_* names work unchanged. Trailing \n dropped: the
# line sinks add it.
BUILTIN_TEMPLATES: dict[str, str] = {
    "RSYSLOG_TraditionalFileFormat":
        "%TIMESTAMP% %HOSTNAME% %syslogtag%"
        "%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%",
    "RSYSLOG_FileFormat":
        "%TIMESTAMP:::date-rfc3339% %HOSTNAME% %syslogtag%"
        "%msg:::sp-if-no-1st-sp%%msg:::drop-last-lf%",
    "RSYSLOG_TraditionalForwardFormat":
        "<%PRI%>%TIMESTAMP% %HOSTNAME% %syslogtag:1:32%"
        "%msg:::sp-if-no-1st-sp%%msg%",
    "RSYSLOG_ForwardFormat":
        "<%PRI%>%TIMESTAMP:::date-rfc3339% %HOSTNAME% "
        "%syslogtag:1:32%%msg:::sp-if-no-1st-sp%%msg%",
    "RSYSLOG_SyslogProtocol23Format":
        "<%PRI%>1 %TIMESTAMP:::date-rfc3339% %HOSTNAME% %APP-NAME% "
        "%PROCID% %MSGID% %STRUCTURED-DATA% %msg%",
    # remaining stock templates (ref: runtime/rsconf.c:203-249;
    # registered there at init like the four classics above). The
    # reference hides some behind leading-space names (" WallFmt");
    # here all use the RSYSLOG_ prefix for config addressability.
    "RSYSLOG_SyslogRFC5424Format":
        "<%PRI%>1 %TIMESTAMP:::date-rfc3339% %HOSTNAME% %APP-NAME% "
        "%PROCID% %MSGID% %STRUCTURED-DATA% %msg%",
    "RSYSLOG_SysklogdFileFormat":
        "%TIMESTAMP% %HOSTNAME% %syslogtag%%msg:::sp-if-no-1st-sp%"
        "%msg%",
    "RSYSLOG_WallFmt":
        "\r\n\x07Message from syslogd@%HOSTNAME% at %timegenerated% "
        "...\r\n %syslogtag%%msg%",
    "RSYSLOG_StdUsrMsgFmt": " %syslogtag%%msg%",
    "RSYSLOG_DebugFormat":
        "Debug line with all properties:\nFROMHOST: '%FROMHOST%', "
        "fromhost-ip: '%fromhost-ip%', HOSTNAME: '%HOSTNAME%', "
        "PRI: %PRI%,\nsyslogtag '%syslogtag%', programname: "
        "'%programname%', APP-NAME: '%APP-NAME%', PROCID: "
        "'%PROCID%', MSGID: '%MSGID%',\nTIMESTAMP: '%TIMESTAMP%', "
        "STRUCTURED-DATA: '%STRUCTURED-DATA%',\nmsg: '%msg%'\n"
        "escaped msg: '%msg:::drop-cc%'\ninputname: %inputname% "
        "rawmsg: '%rawmsg%'\n",
    "RSYSLOG_StdJSONFmt":
        '{"message":"%msg:::json%","fromhost":"%HOSTNAME:::json%",'
        '"facility":"%syslogfacility-text%",'
        '"priority":"%syslogpriority-text%",'
        '"timereported":"%timereported:::date-rfc3339%",'
        '"timegenerated":"%timegenerated:::date-rfc3339%"}',
    "RSYSLOG_StdDBFmt":
        "insert into SystemEvents (Message, Facility, FromHost, "
        "Priority, DeviceReportedTime, ReceivedAt, SysLogTag) "
        "values ('%msg:::sql%', %syslogfacility%, "
        "'%HOSTNAME:::sql%', %syslogpriority%, "
        "'%timereported:::date-mysql%', "
        "'%timegenerated:::date-mysql%', '%syslogtag:::sql%')",
    "RSYSLOG_StdPgSQLFmt":
        "insert into SystemEvents (Message, Facility, FromHost, "
        "Priority, DeviceReportedTime, ReceivedAt, SysLogTag) "
        "values ('%msg:::stdsql%', %syslogfacility%, "
        "'%HOSTNAME:::stdsql%', %syslogpriority%, "
        "'%timereported:::date-pgsql%', "
        "'%timegenerated:::date-pgsql%', '%syslogtag:::stdsql%')",
    "RSYSLOG_spoofadr": "%fromhost-ip%",
    "RSYSLOG_FullJSONFmt":
        '{"message":"%msg:::json%",'
        '"fromhost":"%HOSTNAME:::json%",'
        '"programname":"%programname%",'
        '"procid":"%PROCID%","msgid":"%MSGID%",'
        '"facility":"%syslogfacility-text%",'
        '"priority":"%syslogpriority-text%",'
        '"timereported":"%timereported:::date-rfc3339%",'
        '"timegenerated":"%timegenerated:::date-rfc3339%"}',
    "RSYSLOG_StdClickHouseFmt":
        "INSERT INTO rsyslog.SystemEvents (severity, facility, "
        "timestamp, hostname, tag, message) VALUES "
        "(%syslogseverity%, %syslogfacility%, "
        "'%timereported:::date-unixtimestamp%', "
        "'%hostname:::stdsql%', '%syslogtag:::stdsql%', "
        "'%msg:::stdsql%')",
    # omsendertrack senderid + per-source-ratelimit key defaults
    # (rsconf.c:254-257)
    "RSYSLOG_StdOmSenderTrack_senderid": "%fromhost-ip%",
    "RSYSLOG_PerSourceKey": "%hostname%",
}


def compile_template_string(s: str,
                            casesensitive: bool = False) -> "Template":
    """Template-string compiler (ref: doc/source/configuration/
    property_replacer.rst; tplConstructFromString): ``"%msg:1:2%"``
    substrings, ``%msg:::lowercase%`` options, ``%msg:R:RE--end%``
    regex extraction, ``%msg:F,44:2%`` field extraction, ``$``-to-end,
    plain constants between tokens. Unknown options raise — silent
    drops would hide template bugs from config authors.

    ``casesensitive`` is template(option.casesensitive): unless on,
    $!/$./$/ variable entry names LOWERCASE at compile — the
    reference's apply_case_sensitivity (template.c:1233-1252) does
    exactly this for CEE/local/global var fields, independent of the
    global variables.casesensitive switch."""
    parts: list = []
    pos = 0
    for m in _TPL_TOKEN.finditer(s):
        if m.start() > pos:
            parts.append(s[pos:m.start()])
        body = m.group(1)
        if body == "":
            parts.append("%")            # '%%' escape
            pos = m.end()
            continue
        segs = body.split(":")
        name = segs[0]
        kw: dict = {}
        if len(segs) >= 3 and segs[1].startswith("F"):
            # field mode: F or F,<delim-decimal>. Malformed spellings
            # produce the reference's exact -N1 diagnostics
            # (template.c do_Parameter; golden
            # template-parameter-errors.sh)
            delim = ","
            rest = segs[1][1:]
            if rest:
                if not rest.startswith(","):
                    raise ValueError(
                        'invalid character in frompos after "F"')
                dtxt = rest[1:]
                mdig = _re.match(r"(\d*)(.*)", dtxt)
                digits, tail = mdig.group(1), mdig.group(2)
                if not digits:
                    raise ValueError(
                        'invalid character in frompos after "F,"')
                if tail:
                    raise ValueError(
                        f"invalid character '{tail[0]}' in frompos "
                        'after "F,"')
                if int(digits) > _TPL_INT_MAX:
                    raise ValueError(
                        "delimiter value in template is too large")
                if int(digits) > 255:
                    raise ValueError(
                        "non-USASCII delimiter character value "
                        f"{int(digits)}")
                delim = chr(int(digits))
            fnum, _sep, ftop = segs[2].partition(",")
            if fnum.isdigit() and int(fnum) > _TPL_INT_MAX:
                raise ValueError(
                    "field number in template is too large")
            if ftop.isdigit() and int(ftop) > _TPL_INT_MAX:
                raise ValueError(
                    "topos value in template is too large")
            kw.update(field_delim=delim, field_num=int(fnum))
        elif len(segs) >= 3 and (segs[1] == "R"
                                 or segs[1].startswith("R,")):
            # long form R,<type>,<match#>,<nomatch>,<submatch>
            # (property_replacer.rst regex options; golden
            # parsertest-parse3.sh '%syslogtag:R,ERE,0,BLANK:...%').
            # '--end' TERMINATES the regex; a ':options' part may
            # follow it (the regex itself can contain ':')
            joined = ":".join(segs[2:])
            regex, sep, after_end = joined.partition("--end")
            if sep:
                segs = segs[:3] + \
                    ([after_end.lstrip(":")] if after_end else [])
            else:
                regex = joined
                segs = segs[:3]
            opts = segs[1].split(",")[1:]
            kw.update(regex=regex, regex_nomatch="blank")
            if opts and opts[0].upper() in ("ERE", "BRE"):
                opts.pop(0)      # Java regex ≈ ERE superset
            if opts and opts[0].isdigit():
                kw["regex_match"] = int(opts.pop(0))
            if opts and opts[0].upper() in ("BLANK", "DFLT",
                                            "FIELD", "ZERO"):
                kw["regex_nomatch"] = {
                    "BLANK": "blank", "DFLT": "dflt",
                    "FIELD": "whole", "ZERO": "zero",
                }[opts.pop(0).upper()]
            if opts and opts[0].isdigit():
                kw["regex_submatch"] = int(opts.pop(0))
        elif len(segs) >= 3:
            if segs[1]:
                if segs[1].isdigit() and int(segs[1]) > _TPL_INT_MAX:
                    raise ValueError(
                        "frompos value in template is too large")
                kw["frm"] = int(segs[1])
            if segs[2] and segs[2] != "$":
                if segs[2].isdigit() and int(segs[2]) > _TPL_INT_MAX:
                    raise ValueError(
                        "topos value in template is too large")
                kw["to"] = int(segs[2])
        if len(segs) >= 4 and segs[3]:
            fmt_class = None   # json/jsonf/jsonr/jsonfr/csv conflict
            for opt in segs[3].split(","):
                if not opt:
                    continue
                # option names are case-insensitive (template.c
                # strcasecmp dispatch; golden compresssp-stringtpl.sh
                # spells 'compressSPACE')
                opt = opt.lower()
                if opt in ("json", "jsonf", "jsonr", "jsonfr", "csv"):
                    # the format options are mutually exclusive; the
                    # reference keeps the FIRST and warns (template.c;
                    # golden template-parameter-errors.sh conflict_*)
                    if fmt_class is not None:
                        raise ValueError(
                            "one option out of (json, jsonf, jsonr, "
                            f"jsonfr, csv) - {opt} ignored")
                    fmt_class = opt
                if opt in ("jsonf", "jsonfr"):
                    # a FIELD fragment ('"name":value'), not a value
                    # escape (msg.c jsonField; transformations golden
                    # legacy_jsonf/legacy_jsonfr). The field name is
                    # the property name minus its variable prefix.
                    kw["__jsonf"] = opt
                    continue
                if opt not in _TPL_OPTIONS:
                    # reference: warning + option ignored; -N1 under
                    # abortOnUncleanConfig fails — the engine is
                    # strict-always
                    raise ValueError(
                        "template error: invalid field option "
                        f"'{opt}' specified - ignored")
                kw.update(_TPL_OPTIONS[opt])
        if not casesensitive and name.lstrip("$").startswith(
                ("!", ".", "/")):
            name = name.lower()
        jf = kw.pop("__jsonf", None)
        if jf is not None:
            outname = name.lstrip("$").lstrip("!./")
            parts.append(_JsonfProp({"name": name, "outname": outname,
                                     "format": jf}))
        else:
            parts.append(Prop(name, **kw))
        pos = m.end()
    if pos < len(s):
        parts.append(s[pos:])
    return Template(parts, source=s)
