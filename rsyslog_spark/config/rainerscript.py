"""RainerScript config front-end: parse a practical subset of
rsyslog.conf (config format v2) into the ruleset DSL, so a reference
user's config runs on Spark.

Grammar subset (ref: grammar/grammar.y, grammar/lexer.l — re-derived
from the published config-format documentation, not translated):

* ``ruleset(name="x") { stmts }``
* ``if EXPR then { stmts } [else { stmts }]`` (braces required —
  the single-statement form is accepted too)
* ``set $.v = EXPR;`` / ``set $!v = EXPR;`` / ``unset $.v;``
* ``call rulesetname``
* ``stop`` / ``~`` (discard)
* ``action(type="omfile" name="x" ...)`` — params recorded verbatim;
  ``omdiscard`` compiles to Stop
* legacy selector lines: ``mail.info action(...)`` /
  ``*.err /var/log/err`` (filename target becomes an omfile action)
* property filters: ``:msg, contains, "x" action(...)`` with the
  compare ops contains/isequal/startswith/endswith/regex + ``!``
  negation
* expressions: and/or/not, comparisons (== != <> < > <= >=,
  contains/startswith/endswith + _i variants), & concat, + - * / %,
  unary minus, parentheses, arrays ["a","b"], strings, numbers,
  ``$msg``/``$!json!path``/``$.local``, and calls to the function
  registry (strlen, tolower, re_match, prifilt, ...).

Comments (``# ...``), blank lines, and ``module(load=...)`` /
``input(...)`` / ``template(...)`` objects are accepted; module/input
are recorded (sources are wired by the host program), templates
compile to templates.Template.

Everything compiles to plans/ruleset.py dataclasses; RainerScript
COERCION semantics come from expr.rs_cmp / rs_div / rs_concat, so
config-driven comparisons behave like the reference interpreter
(numeric-first compare, div-0 → 0).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dfield
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import rsyslog_spark.functions as rf
from rsyslog_spark.expr import prifilt as prifilt_col
from rsyslog_spark.expr import (qcol, rs_add, rs_cmp, rs_concat,
    rs_div, rs_mod, rs_mul, rs_neg, rs_str, rs_sub)
from rsyslog_spark.plans.ruleset import (
    Action, Call, CallIndirect, Foreach, If, PriFilt, PropFilt, Ruleset,
    Set, Stop, Transform, Unset, varname,
)

# ---------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(r"""
    (?P<ws>\s+|\#[^\n]*|/\*(?!\.)(?s:.*?)\*/|//[^\n]*)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<btick>`[^`]*`)
  | (?P<number>-?\d+)
  | (?P<var>\$[!./]?[A-Za-z0-9_!./@-]*(?:\[\d+\][A-Za-z0-9_!./@-]*)*)
  | (?P<name>[A-Za-z_][A-Za-z0-9_-]*)
  | (?P<op><=|>=|==|!=|<>|&&|\|\||[-+*/%&(){},;=\[\]<>~:!.@|?^])
  | (?P<prispec>\*\.[*a-z=!0-9,;.*]+)
""", re.VERBOSE)

_KEYWORDS = {"if", "then", "else", "set", "unset", "stop", "call",
             "ruleset", "action", "and", "or", "not", "foreach", "do",
             "in", "module", "input", "template", "lookup_table"}


@dataclass
class Tok:
    kind: str       # string|number|var|name|op|prispec
    text: str
    pos: int
    line: int = 0


def _lex(src: str, line_base: int = 0) -> list[Tok]:
    toks: list[Tok] = []
    i = 0
    line = line_base + 1
    while i < len(src):
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise SyntaxError(f"config lex error at {src[i:i+30]!r}")
        i = m.end()
        kind = m.lastgroup
        text = m.group()
        tok_line = line
        line += text.count("\n")
        if kind == "ws":
            continue
        if kind == "btick":
            # backtick constants evaluate at CONFIG LOAD (ref:
            # grammar/lexer.l:145-232 expand_backticks): `echo TEXT`
            # expands $VAR/${VAR} env refs (unset -> ""), `cat FILE`
            # reads the file, anything else is an error -> ""
            kind = "string"
            exp = _expand_backticks(text[1:-1])
            text = '"' + exp.replace("\\", "\\\\") \
                .replace('"', '\\"') + '"'
        toks.append(Tok(kind, text, m.start(), tok_line))
    toks.append(Tok("eof", "", len(src), line))
    return toks


def _expand_backticks(param: str) -> str:
    """lexer.l expand_backticks semantics, re-derived: echo with
    $VAR ([A-Za-z0-9_]+ runs) and ${VAR} expansion — unset vars
    expand to "" — and cat reading a file (failure yields the
    reference's literal error-comment string)."""
    import os as _os

    if param.startswith("echo "):
        out = []
        i = 0
        t = param[5:]
        while i < len(t):
            ch = t[i]
            if ch == "$":
                if i + 1 < len(t) and t[i + 1] == "{":
                    j = t.find("}", i + 2)
                    if j == -1:
                        out.append(_os.environ.get(t[i + 2:], ""))
                        i = len(t)
                    else:
                        out.append(_os.environ.get(t[i + 2:j], ""))
                        i = j + 1
                else:
                    j = i + 1
                    while j < len(t) and (t[j].isalnum()
                                          or t[j] == "_"):
                        j += 1
                    out.append(_os.environ.get(t[i + 1:j], ""))
                    i = j
            else:
                out.append(ch)
                i += 1
        return "".join(out)
    if param.startswith("cat "):
        try:
            with open(param[4:], encoding="utf-8") as fh:
                return fh.read()
        except OSError:
            return ("/* file could not be accessed - see "
                    "error messages */")
    return ""


def _unquote(s: str) -> str:
    r"""Config string-literal unescape (ref: grammar/lexer.l string
    rules; golden rscript-object-string-escapes.sh): named escapes
    (\n \t \r), hex (backslash-xHH, either case), octal
    (backslash-OOO, 1-3 digits), and a doubled backslash producing a
    literal one — so a config '\\x41' reaches the output as the
    literal text '\x41'."""
    body = s[1:-1]

    def repl(m):
        if m.group(1) is not None:          # \xHH
            return chr(int(m.group(1), 16))
        if m.group(2) is not None:          # \OOO octal
            return chr(int(m.group(2), 8) & 0xFF)
        c = m.group(3)
        return {"n": "\n", "t": "\t", "r": "\r"}.get(c, c)

    return re.sub(
        r"\\x([0-9A-Fa-f]{2})|\\([0-7]{1,3})|\\(.)", repl, body)


# --------------------------------------------------------------- parser

# legacy selector: facility.severity[;...] at statement start,
# e.g. mail.info  *.err  auth.*;cron.=info  mail,uucp.*
_SELECTOR_RE = re.compile(
    r"^([A-Za-z0-9*,]+\.[=!]?[A-Za-z0-9*]+(?:;[A-Za-z0-9*,]+\.[=!]?"
    r"[A-Za-z0-9*]+)*)$")


@dataclass
class ParsedConfig:
    rulesets: dict[str, Ruleset]
    modules: list[dict[str, str]] = dfield(default_factory=list)
    inputs: list[dict[str, str]] = dfield(default_factory=list)
    templates: dict[str, Any] = dfield(default_factory=dict)
    lookup_tables: dict[str, Any] = dfield(default_factory=dict)
    ruleset_params: dict[str, dict] = dfield(default_factory=dict)
    reloads: list[str] = dfield(default_factory=list)
    # reload_lookup_table(name, STUB): stub value per table for
    # failed reloads (lookup.c stub_value_if_reload_fails)
    reload_stubs: dict[str, str] = dfield(default_factory=dict)
    # dyn_inc / percentile_observe call sites: (kind, bucket,
    # key_fn, value_fn|None) — the runtime aggregates these over the
    # batch (ref: rainerscript.c:4490 dyn_inc/percentile_observe)
    stats_calls: list = dfield(default_factory=list)
    # other config objects (CNFOBJ enum, grammar/rainerscript.h:
    # 36-53): parser / timezone / dyn_stats / perctile_stats /
    # ratelimit declarations, kind → [params]
    objects: dict[str, list] = dfield(default_factory=dict)
    # legacy $-directive settings, lowercased name → raw value string
    # (ref: runtime/cfsysline.c — the cfsysline directive table)
    directives: dict[str, str] = dfield(default_factory=dict)
    # lookup tables visible to lookup() expressions compiled from THIS
    # config — scoped per config, not process-global
    active_tables: dict[str, Any] = dfield(default_factory=dict)
    # $outchannel declarations: name → {file, maxsize, command}
    # (ref: runtime/outchannel.c)
    outchannels: dict[str, dict] = dfield(default_factory=dict)
    main: str = "RSYSLOG_DefaultRuleset"


# Legacy directives that select behavior we model; everything else is
# recorded verbatim in cfg.directives (the reference treats unknown
# cfsysline directives as errors, but tolerating-and-recording is the
# useful engine behavior here). ref: runtime/cfsysline.c:1-1116.
_DIRECTIVE_NOOPS = frozenset({
    "umask", "fileowner", "filegroup", "dirowner", "dirgroup",
    "filecreatemode", "dircreatemode", "workdirectory", "privdropto",
    "privdroptouser", "privdroptogroup", "privdroptouserid",
    "privdroptogroupid", "maxopenfiles",
    # NOT a noop: interpreted at activation (set_preserve_fqdn);
    # listed here so the legacy spelling doesn't warn
    "preservefqdn",
    "repeatedmsgreduction", "escapecontrolcharactersonreceive",
    "escape8bitcharactersonreceive", "escapecontrolcharactertab",
    "actionwriteallmarkmessages",
    "actionqueuetype", "actionqueuefilename", "actionqueuesize",
    "actionqueuemaxdiskspace", "actionqueuesaveonshutdown",
    "actionqueuetimeoutenqueue", "actionqueuedequeuebatchsize",
    "actionqueueworkerthreads", "actionqueuediscardmark",
    "actionqueuediscardseverity", "actionqueuehighwatermark",
    "actionqueuelowwatermark", "actionresumeretrycount",
    "actionresumeinterval", "mainmsgqueuesize",
    "mainmsgqueuediscardmark", "mainmsgqueuediscardseverity",
    "mainmsgqueueworkerthreads", "mainmsgqueuetype",
    "maxmessagesize", "systemlogsocketname", "omfileforcechown",
    "allowedsender", "dropmsgswithmaliciousdnsptrrecords",
    "controlcharacterescapeprefix", "droptrailinglfonreception",
    "localhostname", "abortonuncleanconfig", "debugprintruleset",
    "inputtcpserverbindruleset", "inputudpserverbindruleset",
    "inputtcpserverrun", "udpserverrun", "inputtcpmaxsessions",
    "modload",  # handled specially but listed for completeness
})


class CIParams(dict):
    """Object-parameter dict with case-insensitive FALLBACK lookup.

    The reference matches object parameter names case-insensitively
    (grammar/rainerscript.c nvlstFindName → es_strcasebufcmp), so
    config authors freely mix ``File=``/``file=``/``Template=``.
    Keys keep their written spelling (iteration, error messages);
    an exact-case lookup wins, a miss retries case-folded."""

    def _fold_key(self, key):
        kl = key.lower()
        for k in self:
            if isinstance(k, str) and k.lower() == kl:
                return k
        raise KeyError(key)

    def __getitem__(self, key):
        try:
            return super().__getitem__(key)
        except KeyError:
            if not isinstance(key, str):
                raise
            return super().__getitem__(self._fold_key(key))

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    def __contains__(self, key):
        if super().__contains__(key):
            return True
        if not isinstance(key, str):
            return False
        try:
            self._fold_key(key)
            return True
        except KeyError:
            return False


class _Parser:
    def __init__(self, toks: list[Tok], base_dir: str = "."):
        self.toks = toks
        self.i = 0
        self.reloads: list[str] = []
        self.base_dir = base_dir
        # lookup tables for lookup() exprs in THIS config — the same
        # dict object becomes cfg.active_tables and is filled by
        # load_config before any statement lambda runs (lazy resolve)
        self.tables: dict[str, Any] = {}
        self._line_base = 1_000_000  # line-offset pool for includes
        self.cfg = ParsedConfig(rulesets={})
        self.cfg.active_tables = self.tables
        # built-in RSYSLOG_* templates (ref: runtime/template.c) so
        # stock configs referencing them work unchanged; user
        # template() objects with the same name override
        from rsyslog_spark.templates import (
            BUILTIN_TEMPLATES, compile_template_string)
        for tname, tstr in BUILTIN_TEMPLATES.items():
            self.cfg.templates[tname] = compile_template_string(tstr)

    # -- token helpers -------------------------------------------------
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> Tok:
        t = self.next()
        if t.text != text:
            raise SyntaxError(
                f"expected {text!r}, got {t.text!r} (line {t.line})")
        return t

    def accept(self, text: str) -> bool:
        if self.peek().text == text:
            self.i += 1
            return True
        return False

    # expression-AST → deferred Column closures, capturing THIS
    # config's lookup tables and template registry (both dicts are
    # mutated as parsing proceeds; the closures read them at run time)
    def _cond(self, ast):
        self._scan_stats_calls(ast)
        return _cond_fn(ast, self.tables, self.cfg.templates)

    def _value(self, ast):
        self._scan_stats_calls(ast)
        return _value_fn(ast, self.tables, self.cfg.templates)

    def _parse_json_set(self, retvar: str, expr) -> list:
        """``set $.ret = parse_json(TEXT, CONTAINER)`` (ref: grammar/
        rainerscript.c doFunc_parse_json:1868-1927): parse TEXT and
        store the tree at CONTAINER, returning 0 (errno EOK); on a
        failed parse return 1 (errno EINVAL) with CONTAINER
        untouched. Splices into two Sets: the container store (per-row
        no-op where the parse failed) then the numeric errcode, which
        also records the script_error() expression."""
        text_ast = expr[2][0]
        container = str(expr[2][1][1])
        if container.startswith(("!", ".")):
            container = "$" + container
        tables, templates = self.tables, self.cfg.templates

        def _txt(d):
            return rs_str(_to_col(text_ast, d, tables, templates))

        # whole-input validity (ChangeLog 2025-12-24): a prefix-valid
        # string with trailing garbage ('{"a":1}xx') must FAIL
        from rsyslog_spark.functions.json_fns import json_strict_ok

        def _store(d):
            ok = json_strict_ok(_txt(d))
            prev = _var_col(container, d)
            return F.when(ok, _txt(d)).otherwise(prev)

        def _err(d):
            return F.when(json_strict_ok(_txt(d)),
                          F.lit(0)).otherwise(F.lit(1))

        def _ret(d):
            from rsyslog_spark.plans.ruleset import set_script_errno
            set_script_errno(_err)
            return _err(d)

        return [Set(container, _store, maybe_json=True),
                Set(retvar, _ret)]

    def _scan_stats_calls(self, ast) -> None:
        """Record dyn_inc/percentile_observe call sites so the
        runtime can aggregate them over the batch."""
        if not isinstance(ast, tuple):
            return
        if ast[0] == "callfn" and ast[1] in ("dyn_inc",
                                             "percentile_observe"):
            args = ast[2]
            if args and args[0][0] == "lit":
                key_fn = _value_fn(args[1], self.tables,
                                   self.cfg.templates) \
                    if len(args) > 1 else None
                val_fn = _value_fn(args[2], self.tables,
                                   self.cfg.templates) \
                    if len(args) > 2 else None
                self.cfg.stats_calls.append(
                    (ast[1], str(args[0][1]), key_fn, val_fn))
        for sub in ast[1:]:
            if isinstance(sub, tuple):
                self._scan_stats_calls(sub)
            elif isinstance(sub, list):
                for x in sub:
                    self._scan_stats_calls(x)

    # -- config objects ------------------------------------------------
    def _mk_action(self, params: dict):
        """Action factory honoring the STICKY legacy directive
        ``$ActionExecOnlyWhenPreviousIsSuspended on|off`` (ref:
        runtime/cfsysline.c; action.h bExecWhenPrevSusp — applies to
        every subsequent action until turned off; goldens
        failover-basic/-double/-no-basic.sh) and
        ``config.enabled="off"`` (a disabled action compiles to a
        no-op pass-through; golden config_enabled-off-action.sh)."""
        if _config_disabled(params):
            from rsyslog_spark.plans.ruleset import Transform
            return Transform("config.disabled",
                             lambda df, live: df)
        if getattr(self, "_act_prev_susp", False) \
                and "action.execonlywhenpreviousissuspended" not in {
                    k.lower() for k in params}:
            params = {**params,
                      "action.execonlywhenpreviousissuspended": "on"}
        return _make_action(params)

    def parse_config(self) -> ParsedConfig:
        cfg = self.cfg
        # legacy $Ruleset directive re-binds where top-level statements
        # land (ref: runtime/cfsysline.c $Ruleset / doc legacy format)
        self._legacy_rs = cfg.main
        top: dict[str, list] = {}
        while self.peek().kind != "eof":
            t = self.peek()
            if t.text == "ruleset":
                name, stmts, params = self.parse_ruleset_obj()
                _check_queue_size(params)
                cfg.rulesets[name] = Ruleset(name, stmts)
                cfg.ruleset_params[name] = params
            elif t.text in ("module", "input"):
                kind = self.next().text
                params = self.parse_param_block()
                if _config_disabled(params):
                    # config.enabled="off" skips the whole object —
                    # parameters must NOT be validated/acted on
                    # (rainerscript.c nvlstChkDisabled; golden
                    # config_enabled-off.sh 'parameter .. not known'
                    # must not appear)
                    continue
                (cfg.modules if kind == "module" else cfg.inputs
                 ).append(params)
                if kind == "module" and str(params.get(
                        "load", "")).endswith("mmsnareparse"):
                    # module-level definition.file / validation.mode
                    # become defaults for every mmsnareparse action
                    # in this config (mmsnareparse.c modpblk)
                    _SNARE_MODULE_PARAMS.clear()
                    _SNARE_MODULE_PARAMS.update(
                        {k: v for k, v in params.items()
                         if k != "load"})
                if kind == "module" and str(params.get(
                        "load", "")).endswith("omfile") \
                        and params.get("template"):
                    # module(load="builtin:omfile" template=...)
                    # sets the omfile DEFAULT template, same effect
                    # as $ActionFileDefaultTemplate (ref: omfile.c
                    # module params; golden omfile-outchannel.sh)
                    cfg.directives["actionfiledefaulttemplate"] = \
                        params["template"]
            elif t.text == "template":
                params = self.parse_template_obj()
                self._register_template(params)
            elif t.text == "lookup_table":
                self.next()
                params = self.parse_param_block()
                if params["name"] in cfg.lookup_tables:
                    # issue #5316: duplicates made unreachable tables
                    # + stray reloader threads (lookup.c:1206; golden
                    # lookup_table_duplicate.sh -N1 failure)
                    raise ValueError(
                        "lookup_table: duplicate name "
                        f"'{params['name']}' in current config set")
                cfg.lookup_tables[params["name"]] = params
            elif t.text in ("global", "main_queue") \
                    and self.peek(1).text == "(":
                # v2 spellings of the legacy directive space (ref:
                # CNFOBJ_GLOBAL / CNFOBJ_MAINQ): global(key=val) and
                # main_queue(queue.x=...) land in cfg.directives so
                # the same activations apply (discard gate etc.)
                kind = self.next().text
                params = self.parse_param_block()
                for k, v in params.items():
                    if kind == "global" \
                            and k.lower() == "environment":
                        # global(environment="K=V" | [...]) sets
                        # process env at CONFIG LOAD (glbl.c
                        # "environment" eCmdHdlrArray; golden
                        # glbl_setenv.sh reads it back via getenv()).
                        # Malformed entries error-and-continue with
                        # the reference's messages (do_setenv,
                        # glbl.c:1326-1349; goldens glbl_setenv_err
                        # + _err_too_long): no '=' before end of
                        # entry, or a name so long the 128-byte
                        # buffer check trips (the reference's
                        # ``i == sizeof(varname) - i`` guard fires
                        # at 64 even though the message says 127 —
                        # mirrored exactly, quirk included)
                        import os as _os
                        import warnings as _w
                        entries = v if isinstance(v, list) else [v]
                        for ent in entries:
                            ent = str(ent)
                            ek, eq, ev = ent.partition("=")
                            if not eq:
                                _w.warn(
                                    "environment variable entry is "
                                    "missing equal sign (for "
                                    f"value): '{ent}'")
                                continue
                            if len(ek) >= 64:
                                _w.warn(
                                    "environment variable name too "
                                    "long [max 127 chars] or "
                                    f"malformed entry: '{ent}'")
                                continue
                            if ek:
                                _os.environ[ek] = ev
                        continue
                    if kind == "main_queue":
                        k = "mainmsgqueue" + k.lower().replace(
                            "queue.", "")
                    if kind == "global" \
                            and k.lower() == "internalmsg.severity":
                        # eCmdHdlrSeverity decode + 0..7 range check
                        # (glbl.c:1568-1573) — out-of-range, unknown
                        # symbolic, and overflowing numerics are all
                        # load errors (goldens glbl-internalmsg_
                        # severity-invalid-long.sh: -N1 must fail
                        # with this exact text)
                        from rsyslog_spark.schema import SEVERITIES
                        sv = str(v).strip()
                        try:
                            n = int(sv)
                        except ValueError:
                            n = SEVERITIES.get(sv.lower(), -1)
                        if n < 0 or n > 7:
                            raise ValueError(
                                "invalid internalmsg.severity value")
                        v = str(n)
                    cfg.directives[k.lower()] = v
            elif t.text in ("parser", "timezone", "dyn_stats",
                            "perctile_stats", "percentile_stats",
                            "ratelimit") \
                    and self.peek(1).text == "(":
                # declarative objects (CNFOBJ enum) recorded for the
                # operators that consume them (dynstats/percentile/
                # ratelimit take their params at call sites)
                kind = self.next().text
                cfg.objects.setdefault(kind, []).append(
                    self.parse_param_block())
            elif t.text == "include" and self.peek(1).text == "(":
                self.next()
                self._splice_include(self.parse_param_block())
            elif t.kind == "var" and len(t.text) > 1 \
                    and t.text[1].isalpha():
                self.parse_legacy_directive()
            else:
                got = self.parse_stmt()
                if got is not None:
                    top.setdefault(self._legacy_rs, []).append(got)
        cfg.reloads = self.reloads
        for rs_name, stmts in top.items():
            prev = cfg.rulesets.get(rs_name)
            cfg.rulesets[rs_name] = Ruleset(
                rs_name, (list(prev.stmts) if prev else []) + stmts)
        _uniquify_action_names(cfg)
        return cfg

    def _register_template(self, params: dict) -> None:
        # template(option.casesensitive="on") / legacy ",casesensitive"
        # (ref: template.c:747,2101): keep var-name case in the
        # template; default lowercases CEE/local/global names
        cs = (str(params.get("option.casesensitive", "off")).lower()
              in ("on", "true", "1")
              or "casesensitive" in str(params.get("options", ""))
              .lower().split(","))
        if params.get("type", "string") == "string" \
                and "string" in params:
            from rsyslog_spark.templates import compile_template_string
            self.cfg.templates[params["name"]] = \
                compile_template_string(params["string"],
                                        casesensitive=cs)
        elif params.get("type") == "subtree":
            # subtree template (ref: template.h:45-46): render a $!
            # path (or the whole tree) as its JSON text
            from rsyslog_spark.templates import prop_col, Template
            path = params.get("subtree", "$!")
            tpl = Template([])
            # accepts the frame (tpl.col(df) from action dispatch)
            # AND the zero-arg portable form — a positional-only
            # path default would swallow df as the path
            if path in ("$!", "$!all-json"):
                tpl.col = (lambda df=None: prop_col("$!all-json", df)
                           )  # type: ignore[method-assign]
            else:
                tpl.col = (lambda df=None, p=path: prop_col(p, df)
                           )  # type: ignore[method-assign]
            self.cfg.templates[params["name"]] = tpl
        elif params.get("type") == "plugin":
            # strgen modules (ref: runtime/template.c:1939-1962
            # tplBindStrgen; tools/smfile.c:49 STRGEN_NAME): each
            # strgen is a compiled-C generator of a stock format,
            # selected by template(type="plugin" plugin="NAME"). The
            # Spark analog of "compiled" is the Catalyst expression
            # the same-named builtin template already lowers to —
            # whole-stage codegen IS the strgen fast path — so plugin
            # templates resolve to the builtin of the same name.
            from rsyslog_spark.templates import (
                BUILTIN_TEMPLATES, compile_template_string)
            mod = params.get("plugin", "")
            if mod not in BUILTIN_TEMPLATES:
                raise SyntaxError(
                    f"unknown strgen module {mod!r} (known: "
                    f"{sorted(BUILTIN_TEMPLATES)})")
            self.cfg.templates[params["name"]] = \
                compile_template_string(BUILTIN_TEMPLATES[mod])
        elif params.get("type") == "list" and "__elements__" in params:
            from rsyslog_spark.templates import (
                _JsonfTemplate, compile_template_list)
            if params.get("option.jsonftree", "off").lower() == "on":
                self.cfg.templates[params["name"]] = \
                    _JsonfTemplate(params["__elements__"], tree=True,
                                   casesensitive=cs)
            elif params.get("option.jsonf", "off").lower() == "on":
                self.cfg.templates[params["name"]] = \
                    _JsonfTemplate(params["__elements__"],
                                   casesensitive=cs)
            else:
                self.cfg.templates[params["name"]] = \
                    compile_template_list(params["__elements__"],
                                          casesensitive=cs,
                                          tpl_name=params["name"])
        else:
            self.cfg.templates[params["name"]] = params

    # -- legacy $-directives (ref: runtime/cfsysline.c) -----------------
    def parse_legacy_directive(self) -> None:
        d = self.next()
        name = d.text[1:].lower()
        args: list[Tok] = []
        while self.peek().kind != "eof" and self.peek().line == d.line:
            args.append(self.next())
        # rebuild the argument string with its original spacing from
        # token offsets (plain concat corrupts args containing spaces,
        # e.g. $IncludeConfig paths or template option lists)
        parts: list[str] = []
        prev_end: int | None = None
        for a in args:
            if prev_end is not None and a.pos > prev_end:
                parts.append(" " * (a.pos - prev_end))
            parts.append(a.text)
            prev_end = a.pos + len(a.text)
        raw = "".join(parts)
        if name in ("optimizeforuniprocessor",):
            # eCmdHdlrGoneAway directives (glbl.c:1685): warn +
            # ignore (golden conf-directive-gone-away.sh)
            import warnings
            warnings.warn(
                "config directive is no longer supported -- ignored")
            return
        if name == "actionexeconlywhenpreviousissuspended":
            # sticky until turned off (cfsysline.c; failover-*.sh)
            self._act_prev_susp = raw.strip().lower() in (
                "on", "true", "1")
            return
        if name == "modload":
            self.cfg.modules.append({"load": raw})
        elif name == "template":
            # $template NAME,"text"[,option]  (legacy template syntax;
            # same %property% replacer as v2 string templates)
            tname = args[0].text if args else ""
            tstr = next((a for a in args if a.kind == "string"), None)
            if tstr is None:
                raise SyntaxError(f"$template {tname} needs a string")
            opts = [a.text for a in args[2:] if a.kind == "name"]
            self._register_template(
                {"name": tname, "type": "string",
                 "string": _unquote(tstr.text),
                 "options": ",".join(opts)})
        elif name == "outchannel":
            # $outchannel name,file,maxsize[,rotate-command]
            # (ref: runtime/outchannel.c ochAddLine — legacy
            # size-capped rotation still common in distro configs)
            bits = raw.split(",", 3)
            if len(bits) < 2:
                raise SyntaxError("$outchannel needs name,file")
            size_s = bits[2].strip() if len(bits) > 2 else "0"
            mult = 1
            if size_s and size_s[-1].lower() in "kmg":
                mult = {"k": 1 << 10, "m": 1 << 20,
                        "g": 1 << 30}[size_s[-1].lower()]
                size_s = size_s[:-1]
            self.cfg.outchannels[bits[0].strip()] = {
                "file": bits[1].strip(),
                "maxsize": int(size_s or "0") * mult,
                "command": bits[3].strip() if len(bits) > 3 else "",
            }
        elif name == "includeconfig":
            self._splice_include({"file": raw})
        elif name == "ruleset":
            self._legacy_rs = raw
        elif name == "rulesetparser":
            # $RulesetParser NAME — bind a parser() instance to the
            # CURRENT ruleset (ref: runtime/ruleset.c
            # rulesetSetParser; golden
            # hostname-with-slash-pmrfc3164.sh)
            self.cfg.ruleset_params.setdefault(
                self._legacy_rs, {})["parser"] = raw.strip()
        elif name in ("actionfiledefaulttemplate",
                      "actionforwarddefaulttemplate"):
            self.cfg.directives[name] = raw
        elif name == "allowedsender":
            # $AllowedSender UDP, 127.0.0.1, 10.0.0.0/8 — repeated
            # lines accumulate per protocol (ref: runtime/net.c
            # AllowedSenders lists)
            proto, _, rest = raw.partition(",")
            key = f"allowedsender.{proto.strip().lower()}"
            entries = [e.strip() for e in rest.split(",") if e.strip()]
            prev = self.cfg.directives.get(key, "")
            self.cfg.directives[key] = ",".join(
                ([prev] if prev else []) + entries)
        else:
            # recorded; queue/priv/file-mode tuning has no Spark analog
            self.cfg.directives[name] = raw
            if name not in _DIRECTIVE_NOOPS and not name.startswith(
                    ("input", "action", "mainmsgqueue", "om", "im")):
                import warnings
                warnings.warn(f"unrecognized legacy directive ${name} "
                              "recorded but not interpreted")

    def _splice_include(self, params: dict) -> None:
        """include(file=... | text=...) / $IncludeConfig: lex the
        included text and splice its tokens at the current position
        (ref: grammar include object; tests/include-obj-text-from-file.sh).
        Missing files raise unless mode="optional"."""
        import glob as _glob
        import os
        # include(... config.enabled=X): anything but "on" disables
        # the whole include (ref: rscript-config_enable-{on,off}.sh —
        # the off case comes from an EMPTY backtick env expansion)
        if "config.enabled" in params and \
                str(params["config.enabled"]).lower() != "on":
            return
        texts: list[str] = []
        if "text" in params:
            texts.append(params["text"])
        if "file" in params:
            pat = params["file"].strip()
            if not os.path.isabs(pat):
                pat = os.path.join(self.base_dir, pat)
            # a directory argument ($IncludeConfig /etc/rsyslog.d/)
            # includes the files INSIDE it, like the reference
            if os.path.isdir(pat):
                pat = os.path.join(pat, "*.conf")
            hits = []
            for h in sorted(_glob.glob(pat)):
                if os.path.isdir(h):
                    hits.extend(sorted(
                        os.path.join(h, f) for f in os.listdir(h)
                        if os.path.isfile(os.path.join(h, f))))
                else:
                    hits.append(h)
            if not hits and params.get("mode", "required") != "optional":
                raise FileNotFoundError(f"include: no config matches {pat!r}")
            for h in hits:
                with open(h, encoding="utf-8") as f:
                    body = f.read()
                if h.endswith((".yaml", ".yml")):
                    # YAML configs include transparently: render to
                    # RainerScript through yamlconf and splice that
                    # (ref: runtime/yamlconf.c; goldens
                    # yaml-script-localvar.sh include a .yaml from
                    # the main conf)
                    from rsyslog_spark.config.yamlconf import (
                        yaml_to_conf)
                    body = yaml_to_conf(body)
                texts.append(body)
        spliced: list[Tok] = []
        for txt in texts:
            self._line_base += 1_000_000
            spliced.extend(_lex(txt, line_base=self._line_base)[:-1])
        self.toks[self.i:self.i] = spliced

    def parse_ruleset_obj(self) -> tuple[str, list, dict]:
        self.expect("ruleset")
        params = self.parse_param_block()
        name = params.get("name")
        if not name:
            raise SyntaxError("ruleset needs name=")
        self.expect("{")
        stmts = self.parse_stmts_until("}")
        return name, stmts, params

    def parse_template_obj(self) -> dict:
        """template(...) with an optional list-template body:
        ``{ constant(value=...) property(name=...) ... }``
        (ref: template.h:40-60 list type; doc templates.rst)."""
        self.expect("template")
        params = self.parse_param_block()
        if self.accept("{"):
            elems: list[tuple[str, dict]] = []
            while not self.accept("}"):
                kind = self.next().text
                if kind not in ("constant", "property"):
                    raise SyntaxError(
                        f"template list element must be constant/"
                        f"property, got {kind!r}")
                elems.append((kind, self.parse_param_block()))
            params["__elements__"] = elems
        return params

    def parse_param_block(self) -> dict[str, str]:
        """``( key="value" key2="v2" ... )`` — order preserved.
        Returned dict matches keys case-insensitively on miss: the
        reference compares parameter names with strcasecmp
        (rainerscript nvlstFindName / libestr es_strcasebufcmp), so
        ``action(type="omfile" File=...)`` is the same as
        ``file=...`` (mmnormalize_processing_test3.sh spells it
        ``File``)."""
        self.expect("(")
        params: dict[str, str] = CIParams()
        while not self.accept(")"):
            key = self.next().text
            while self.accept("."):       # dotted keys: queue.type=
                key += "." + self.next().text
            self.expect("=")
            if self.peek().text == "[":
                # array-valued params (eCmdHdlrArray — e.g.
                # global(environment=[...]), PermittedPeer=[...])
                self.next()
                arr: list[str] = []
                while not self.accept("]"):
                    v = self.next()
                    if v.text == ",":
                        continue
                    arr.append(_unquote(v.text)
                               if v.kind == "string" else v.text)
                params[key] = arr
            else:
                v = self.next()
                params[key] = _unquote(v.text) \
                    if v.kind == "string" else v.text
            self.accept(",")   # tolerated, not required
        return params

    # -- statements ----------------------------------------------------
    def parse_stmts_until(self, closer: str) -> list:
        out = []
        while not self.accept(closer):
            if self.peek().text == "reload_lookup_table":
                # ref: S_RELOAD_LOOKUP_TABLE (rainerscript.h:122) —
                # recorded; the engine reloads via RefreshingDim /
                # re-registering the table between micro-batches
                self.next()
                self.expect("(")
                rname = _unquote(self.next().text)
                self.reloads.append(rname)
                while not self.accept(")"):
                    tk = self.next()
                    if tk.kind == "string":
                        # 2nd arg: STUB value — a FAILED reload
                        # switches the table to stub mode where
                        # every lookup returns it (ref: lookup.c
                        # lookupReload stub_value_if_reload_fails;
                        # golden lookup_table_rscript_reload.sh)
                        self.cfg.reload_stubs[rname] = _unquote(
                            tk.text)
                self.accept(";")
                continue
            got = self.parse_stmt()
            if isinstance(got, list):    # spliced compound (parse_json
                out.extend(got)          # container-store + errcode)
            elif got is not None:    # '&' continuations splice into
                out.append(got)      # the previous filter
        return out

    def parse_block_or_stmt(self) -> list:
        if self.accept("{"):
            return self.parse_stmts_until("}")
        got = self.parse_stmt()
        if isinstance(got, list):
            return got
        return [got] if got is not None else []

    def parse_stmt(self):
        t = self.peek()
        if t.text == "include" and self.peek(1).text == "(":
            # statement-position include(): splice the included
            # tokens right here (ref: the grammar accepts the include
            # object inside statement lists — golden
            # rscript-config_enable-on.sh puts one inside an if)
            self.next()
            self._splice_include(self.parse_param_block())
            return None
        if t.text == "continue":
            # explicit user NOP (grammar S_NOP; issues #2524/#2568 —
            # must survive a strict abortOnUncleanConfig -N1 run;
            # golden abort-uncleancfg-continue-nop.sh)
            self.next()
            self.accept(";")
            return None
        if t.text == "if":
            self.next()
            cond = self.parse_expr()
            self.expect("then")
            then = self.parse_block_or_stmt()
            orelse = self.parse_block_or_stmt() if self.accept("else") \
                else []
            return If(self._cond(cond), then, orelse)
        if t.text in ("set", "reset"):
            # reset (grammar S_SET force_reset): in the reference,
            # set MERGES object values while reset REPLACES; engine
            # columns replace either way, so both compile to Set
            self.next()
            var = self.next()
            if var.kind != "var":
                raise SyntaxError(f"set needs a variable, got {var.text!r} (line {var.line})")
            self.expect("=")
            expr = self.parse_expr()
            self.accept(";")
            if var.text.startswith(("$!", "$.", "$/")) and any(
                    len(seg) >= 1024
                    for seg in var.text[2:].split("!")):
                # overlong JSON path components are REFUSED, never
                # truncated (ref: runtime/msg.c jsonPathFindNext:
                # 4962-4968 MAX_VARIABLE_NAME_LEN; golden
                # msg_json_set_regression.sh)
                import warnings
                warnings.warn("json path component too long in "
                              f"'{var.text[:40]}...' - set refused")
                return None
            if (isinstance(expr, tuple) and expr[0] == "callfn"
                    and expr[1] == "parse_json" and len(expr[2]) == 2
                    and expr[2][1][0] == "lit"):
                return self._parse_json_set(var.text, expr)
            mj = (isinstance(expr, tuple) and expr[0] == "var"
                  and str(expr[1]).startswith(("$!", "$.")))
            return Set(var.text, self._value(expr), maybe_json=mj)
        if t.text == "unset":
            self.next()
            var = self.next()
            self.accept(";")
            return Unset(var.text)
        if t.text in ("stop", "~"):
            self.next()
            self.accept(";")
            return Stop()
        if t.text == "call":
            self.next()
            return Call(self.next().text)
        if t.text == "call_indirect":
            # call_indirect EXPR; — target ruleset name computed per
            # row (ref: grammar/rainerscript.h:112-181 S_CALL_INDIRECT;
            # runtime/ruleset.c:236-275)
            self.next()
            expr = self.parse_expr()
            self.accept(";")
            return CallIndirect(self._value(expr))
        if t.text == "foreach":
            # foreach ($.x in EXPR) do { stmts }
            self.next()
            self.expect("(")
            var = self.next().text
            self.expect("in")
            arr = self.parse_expr()
            self.expect(")")
            self.accept("do")
            body = self.parse_block_or_stmt()
            return Foreach(var, self._value(arr), body)
        if t.text == "action":
            self.next()
            params = self.parse_param_block()
            return self._mk_action(params)
        if t.text == "&":
            # '&' continuation (ref: runtime/conf.c cfline '&'):
            # repeat the previous selector — the following target
            # (action, 'stop'/'~', @host, path...) splices into the
            # previous filter's statement list.
            self.next()
            last = getattr(self, "_last_sel_filter", None)
            if last is None:
                raise SyntaxError("'&' with no preceding selector line")
            tgt = self._parse_selector_target()
            last.then.append(tgt)
            return None
        if t.text == ":":
            # property filter  :prop, [!]op, "value"  TARGET
            self.next()
            prop = self.next().text
            self.expect(",")
            negate = self.accept("!")
            op = self.next().text
            self.expect(",")
            val = self.next()
            value = _unquote(val.text) if val.kind == "string" else val.text
            # selector followed by a { block } of statements (the
            # reference wraps selector lines in RainerScript blocks,
            # e.g. ':msg, contains, "x" { action(...) action(...) }'
            # — omfile-read-only-errmsg.sh config shape)
            if self.peek().text == "{":
                body = self.parse_block_or_stmt()
            else:
                body = [self._parse_selector_target()]
            stmt = PropFilt(prop, op, value, negate, body)
            self._last_sel_filter = stmt
            return stmt
        # legacy selector line:  SELECTOR target | SELECTOR { block }
        sel = self._try_selector()
        if sel is not None:
            if self.peek().text == "{":
                body = self.parse_block_or_stmt()
            else:
                body = [self._parse_selector_target()]
            stmt = PriFilt(sel, body)
            self._last_sel_filter = stmt
            return stmt
        raise SyntaxError(f"unknown statement at {t.text!r} (line {t.line})")

    def _try_selector(self) -> str | None:
        """Detect a legacy `fac.sev[;fac.sev]` selector at statement
        start (it lexes as name '.' name chains or a prispec token)."""
        t = self.peek()
        if t.kind == "prispec":
            self.next()
            return t.text
        # name/star '.' name/star (e.g. mail.info, *.err as op '*'...)
        txt = ""
        j = self.i
        end_pos = t.pos                   # selectors are contiguous:
        while j < len(self.toks):         # stop at whitespace/EOL
            tok = self.toks[j]
            if tok.line != t.line or tok.pos != end_pos:
                break
            end_pos = tok.pos + len(tok.text)
            # a name starting the TARGET ('action', a path, '~') ends
            # the selector: stop before names followed by '(' and
            # before the 'action' keyword itself
            if tok.kind == "name" and (
                tok.text == "action"
                or self.toks[min(j + 1, len(self.toks) - 1)].text == "("
            ):
                break
            if tok.kind in ("name", "number") or tok.text in \
                    ("*", ".", ";", ",", "=", "!"):
                txt += tok.text
                j += 1
            else:
                break
        if _SELECTOR_RE.match(txt):
            self.i = j
            return txt
        return None

    def _rest_of_line(self, line: int) -> str:
        """Concatenate raw token text to end of the source line —
        legacy selector targets run to EOL."""
        out = ""
        while self.peek().kind != "eof" and self.peek().line == line:
            out += self.next().text
        return out

    def _parse_selector_target(self):
        """Legacy selector ACTION field (ref: runtime/conf.c
        cflineDoAction): /path, -/path (async), @host / @@host
        (omfwd udp/tcp), :omusrmsg:users, * (wall), |pipe, ~ discard,
        "quoted path", or a v2 action(...) object."""
        t = self.peek()
        if t.text == "action":
            self.next()
            return self._mk_action(self.parse_param_block())
        if t.text == "call":
            # selector-gated ruleset call: '*.=notice call rs'
            # (ref: rainerscript call statement usable as a legacy
            # selector's action part — golden msgdup.sh)
            self.next()
            return Call(self.next().text)
        if t.text in ("~", "stop"):
            self.next()
            return Stop()
        if t.text == "-":                 # -/path: async omfile
            self.next()
            t = self.peek()
            if t.kind == "string":        # -"quoted path"
                return self._mk_action(
                    {"type": "omfile", "file": _unquote(self.next().text),
                     "asyncWriting": "on"})
            rest = self._rest_of_line(t.line)
            path, _, tmpl = rest.partition(";")
            p = {"type": "omfile", "file": path, "asyncWriting": "on"}
            if tmpl:
                p["template"] = tmpl
            return self._mk_action(p)
        if t.text == "@":                 # @host (udp) / @@host (tcp)
            self.next()
            proto = "udp"
            if self.peek().text == "@":
                self.next()
                proto = "tcp"
            rest = self._rest_of_line(t.line)
            spec, _, tmpl = rest.partition(";")
            p = {"type": "omfwd", "protocol": proto}
            # legacy option parens '@@(o,z5)host:port'
            # (tools/omfwd.c loadTCPSendOptions: 'o' = octet-counted
            # framing, 'zN' = single-message zlib at level N —
            # golden imptcp-compression-none-legacy-single.sh)
            spec = spec.strip()
            import re as _re
            mflags = _re.match(r"^\(([^)]*)\)", spec)
            if mflags:
                spec = spec[mflags.end():]
                for flag in mflags.group(1).split(","):
                    flag = flag.strip()
                    if flag == "o":
                        p["tcp_framing"] = "octet-counted"
                    elif flag.startswith("z") and flag[1:].isdigit():
                        p["compression.mode"] = "single"
                        p["compressionlevel"] = flag[1:]
            host, _, port = spec.partition(":")
            p["target"] = host
            if port:
                p["port"] = port
            if tmpl:
                p["template"] = tmpl
            return self._mk_action(p)
        if t.text == ":":                 # :omusrmsg:users / :mod:params
            self.next()
            mod = self.next().text
            self.accept(":")
            rest = self._rest_of_line(t.line)
            spec, _, tmpl = rest.partition(";")
            if mod == "omfile" and spec.strip().startswith("$"):
                # ':omfile:$channel' — outchannel by name (ref:
                # omfile.c cflineParseOutchannel; golden
                # omfile-outchannel.sh)
                p = {"type": "omfile",
                     "outchannel": spec.strip()[1:]}
            else:
                p = {"type": mod, "target": spec}
            if tmpl:
                p["template"] = tmpl
            return self._mk_action(p)
        if t.text == "?":                 # ?DynaFile[;template] target
            # (ref: tools/omfile.c cflineParseDynaFile — the ';tpl'
            # suffix picks the line template; golden
            # discard-allmark.sh '?dynfile;outfmt')
            self.next()
            rest = self._rest_of_line(t.line)
            dname, _, tmpl = rest.partition(";")
            p = {"type": "omfile", "dynafile": dname.strip()}
            if tmpl:
                p["template"] = tmpl.strip()
            return self._mk_action(p)
        if t.text.startswith("$"):        # $outchannel target
            # (ref: tools/omfile.c cflineParseOutchannel:466-505 —
            # '$name;template' resolves file + size limit + rotate
            # command from the declared outchannel)
            rest = self._rest_of_line(t.line)[1:]   # drop '$'
            chname, _, tmpl = rest.partition(";")
            p = {"type": "omfile", "outchannel": chname.strip()}
            if tmpl:
                p["template"] = tmpl
            return self._mk_action(p)
        if t.text == "*":                 # wall message to all users
            self.next()
            return self._mk_action({"type": "omusrmsg", "target": "*"})
        if t.text == "|":                 # named pipe
            self.next()
            rest = self._rest_of_line(t.line)
            return self._mk_action({"type": "ompipe", "pipe": rest})
        if t.text == "^":                 # ^program: omshell
            # (ref: tools/omshell.c; conf.c cflineDoAction '^' case —
            # run program once per message, rendered line as argv[1])
            self.next()
            rest = self._rest_of_line(t.line)
            prog, _, tmpl = rest.partition(";")
            p = {"type": "omshell", "program": prog}
            if tmpl:
                p["template"] = tmpl
            return self._mk_action(p)
        if t.kind == "op" and t.text == "/":
            # file path target: rest of line, optional ;templateName
            rest = self._rest_of_line(t.line)
            path, _, tmpl = rest.partition(";")
            p = {"type": "omfile", "file": path}
            if tmpl:
                p["template"] = tmpl
            return self._mk_action(p)
        if t.kind == "string":
            return self._mk_action(
                {"type": "omfile", "file": _unquote(self.next().text)})
        raise SyntaxError(f"bad selector target {t.text!r} (line {t.line})")

    # -- expressions (precedence climbing) -----------------------------
    def parse_expr(self):
        return self.parse_or()

    @staticmethod
    def _warn_const_bool_operand(op: str, left, right) -> None:
        """rainerscript.c cnfexprNew (issue #1046; ChangeLog
        2026-06-18): a bare string/number constant as an AND/OR
        operand is almost always a mistake ('$msg contains "a" or
        "b"') — warn at construction, behavior unchanged."""
        import warnings as _w
        for side, node in (("left", left), ("right", right)):
            if isinstance(node, tuple) and node[0] == "lit":
                _w.warn(
                    f"boolean operator '{op}' has constant {side} "
                    "operand; did you mean to repeat the comparison?")

    def parse_or(self):
        left = self.parse_and()
        while self.peek().text in ("or", "||"):
            self.next()
            right = self.parse_and()
            self._warn_const_bool_operand("or", left, right)
            left = ("or", left, right)
        return left

    def parse_and(self):
        left = self.parse_not()
        while self.peek().text in ("and", "&&"):
            self.next()
            right = self.parse_not()
            self._warn_const_bool_operand("and", left, right)
            left = ("and", left, right)
        return left

    def parse_not(self):
        if self.peek().text == "not":
            self.next()
            return ("not", self.parse_not())
        return self.parse_cmp()

    _CMP = {"==", "!=", "<>", "<", ">", "<=", ">=", "contains",
            "contains_i", "startswith", "startswith_i", "endswith",
            "isequal", "regex"}

    def parse_cmp(self):
        left = self.parse_concat()
        if self.peek().text in self._CMP:
            op = self.next().text
            right = self.parse_concat()
            return ("cmp", op, left, right)
        return left

    def parse_concat(self):
        left = self.parse_add()
        while self.peek().text == "&":
            self.next()
            left = ("concat", left, self.parse_add())
        return left

    def parse_add(self):
        left = self.parse_mul()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            left = (op, left, self.parse_mul())
        return left

    def parse_mul(self):
        left = self.parse_unary()
        while self.peek().text in ("*", "/", "%"):
            op = self.next().text
            left = (op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.peek().text == "-":
            self.next()
            return ("neg", self.parse_unary())
        return self.parse_atom()

    def parse_atom(self):
        t = self.next()
        if t.kind == "string":
            return ("lit", _unquote(t.text))
        if t.kind == "number":
            return ("lit", int(t.text))
        if t.kind == "var":
            return ("var", t.text)
        if t.text == "(":
            e = self.parse_expr()
            self.expect(")")
            return e
        if t.text == "[":
            items = []
            while not self.accept("]"):
                tok = self.next()
                items.append(_unquote(tok.text) if tok.kind == "string"
                             else int(tok.text))
                self.accept(",")
            return ("array", items)
        if t.kind == "name":
            if self.peek().text == "(":
                self.next()
                args = []
                while not self.accept(")"):
                    args.append(self.parse_expr())
                    self.accept(",")
                return ("callfn", t.text, args)
            return ("lit", t.text)   # bare word → string literal
        raise SyntaxError(f"bad expression atom {t.text!r} (line {t.line})")


# ------------------------------------------------------ AST → Columns

def _var_col(name: str, df: DataFrame | None = None) -> Column:
    """Compile a variable read. ``$!`` message-tree vars may live in
    two places: a flat ``cee_*`` column (written by ``set $!x = ...``)
    or the original ``json`` tree column — reads must see BOTH, with
    the set-value winning (ref: runtime/msg.c MsgGetJSONPropJSON;
    writes and reads go through the same tree there)."""
    if name in ("$!", "$."):
        # bare tree roots read as whole-tree JSON text (golden
        # rscript_bare_var_root.sh 'set $! = $.')
        from rsyslog_spark.templates import prop_col
        return prop_col(name, df)
    if name.startswith("$!"):
        from rsyslog_spark.plans.ruleset import fold_var
        name = fold_var(name)
        flat = varname(name)
        cols = set(df.columns) if df is not None else None
        if cols is None:
            return rf.tree_get("json", name)
        has_json = "json" in cols
        if flat in cols:
            c = qcol(flat).cast("string")
            return F.coalesce(c, rf.tree_get("json", name)) \
                if has_json else c
        # deep read INTO a flat JSON-subtree column (rs_json column
        # metadata — mmpstrucdata's $!rfc5424-sd, etc.)
        from rsyslog_spark.templates import flat_json_prefix_read
        sub = flat_json_prefix_read(name, df)
        if sub is not None:
            return F.coalesce(sub, rf.tree_get("json", name)) \
                if has_json else sub
        # subtree with SET children but no own column: reassemble
        # from the merged $! tree, like the render path (golden
        # mmpstrucdata-container-null.sh filters on a jsonRoot
        # subtree: '$!structured-data != ""')
        if any(c.startswith(flat + "_") for c in cols):
            from rsyslog_spark.templates import _all_json_col, _tree_read
            merged = _tree_read(_all_json_col(df), name)
            return F.coalesce(merged, rf.tree_get("json", name)) \
                if has_json else merged
        if has_json:
            return rf.tree_get("json", name)
        return F.lit(None).cast("string")
    if name.startswith("$/"):
        # global vars resolve through the process-global plan-time
        # store when no set ran on this frame (ref: typedefs.h:244-248)
        from rsyslog_spark.plans.ruleset import resolve_global
        if df is not None:
            return resolve_global(name, df)
    if not name.startswith(("$.", "$!")):
        # message properties accept legacy spellings ($fromhost-ip,
        # $syslogseverity-text, $timestamp ...)
        from rsyslog_spark.templates import prop_col
        return prop_col(name.lstrip("$"), df)
    # $. local var: a read before any set yields NULL (the reference
    # reads nonexistent vars as empty — exists() returns false, a
    # compare sees ""), never an analysis error. A SUBPATH read
    # ($.quux!bar) whose exact column is absent falls back to a
    # json_get into the longest existing prefix column — foreach
    # loop vars hold JSON element text (golden
    # json_array_subscripting/looping.sh nested reads).
    flat = varname(name)
    if df is not None and flat not in df.columns:
        sub = _local_prefix_read(name, df)
        if sub is not None:
            return sub
        # subtree with SET children but no own column ('set $.x!a'
        # then a read of $.x): reassemble from the $. tree, like the
        # $!-side branch (golden rscript_unflatten_conflict2.sh
        # 'set $!a.b = $.x')
        if any(c.startswith(flat + "_") for c in df.columns):
            from rsyslog_spark.templates import _local_tree_json, _tree_read
            return _tree_read(_local_tree_json(df), "$!" + name[2:])
        return F.lit(None).cast("string")
    return qcol(flat)


def _local_prefix_read(name: str, df: DataFrame):
    """$.a!b!c with no exact column: json_get 'b!c' out of the
    longest existing $.-prefix column (loop vars / object-valued
    locals hold JSON text). None when no prefix column exists."""
    segs = name[2:].split("!")
    # k=0 probes the bare local-tree ROOT column (varname("$.") —
    # mmjsonparse container="$." lands the whole parse there,
    # golden mmjsonparse_localvar.sh)
    for k in range(len(segs) - 1, -1, -1):
        p = varname("$." + "!".join(segs[:k]))
        if p in df.columns:
            return rf.json_get(qcol(p).cast("string"),
                               "$!" + "!".join(segs[k:]))
    return None


# The full RainerScript function registry (ref: grammar/
# rainerscript.c:4467-4510 plus contrib ffaup/fmhash/fmcef modules).
# Signature adapters reorder args where the reference call order
# differs from the Column-factory order (hashXXmod takes the modulus
# FIRST python-side, LAST in config syntax).
_FN_MAP: dict[str, Callable[..., Column]] = {
    "strlen": rf.strlen, "tolower": rf.tolower, "toupper": rf.toupper,
    "ltrim": rf.ltrim, "rtrim": rf.rtrim, "cstr": rf.cstr,
    "cnum": rf.cnum, "cbool": rf.cbool, "replace": rf.replace,
    "wrap": rf.wrap, "field": rf.field,
    "re_match": rf.re_match, "re_match_i": rf.re_match_i,
    "re_extract": rf.re_extract, "re_extract_i": rf.re_extract_i,
    "substring": rf.substring, "int2hex": rf.int2hex,
    "ipv42num": rf.ipv42num, "num2ipv4": rf.num2ipv4,
    "is_in_subnet": lambda ip, cidr: rf.is_in_subnet(ip, cidr).cast("long"),  # number 0/1 in RainerScript
    "b64_decode": rf.b64_decode,
    "format_time": rf.format_time, "parse_time": rf.parse_time,
    "is_time": rf.is_time,
    "getenv": rf.getenv_fn, "random": rf.random_fn,
    "split": rf.split_fn,
    "ip42num": rf.ipv42num,            # registry alias (ref 4480)
    # session tz is UTC; the localtz variant follows the daemon's tz
    # in the reference — documented divergence, same parse rules
    "parse_time_localtz": rf.parse_time_localtz,
    "append_json": rf.append_json,
    "parse_json": rf.parse_json_variant,   # divergence: returns the
    # parsed tree as a VALUE (the reference writes into a $! path and
    # returns an error code — rainerscript.c parse_json)
    "unflatten": rf.unflatten,
    "hash32": rf.hash32, "hash64": rf.hash64,
    "hash32mod": lambda s, mod: rf.hash32mod(int(mod), s),
    "hash64mod": lambda s, mod: rf.hash64mod(int(mod), s),
    "http_request": rf.http_request,       # Python path, flagged in
    # functions/url.py — use only off the hot path
    "faup": rf.faup, "faup_scheme": rf.faup_scheme,
    "faup_host": rf.faup_host, "faup_domain": rf.faup_domain,
    "faup_domain_without_tld": rf.faup_domain_without_tld,
    "faup_tld": rf.faup_tld, "faup_subdomain": rf.faup_subdomain,
    "faup_port": rf.faup_port, "faup_credential": rf.faup_credential,
    "faup_resource_path": rf.faup_resource_path,
    "faup_query_string": rf.faup_query_string,
    "faup_fragment": rf.faup_fragment,
    "tocef": rf.tocef, "cef_ext_escape": rf.cef_ext_escape,
    # fmpcre (ref: plugins/fmpcre/fmpcre.c): Java regex stands in for
    # PCRE — common patterns overlap; exotic PCRE verbs differ
    "pcre_match": rf.pcre_match,
    "prifilt": None,  # special-cased below (plan-time mask compile)
}

# Which argument positions are column-valued (a literal there must be
# wrapped in F.lit, or ColumnOrName parameters would read it as a
# column NAME). Everything else stays a raw Python value — regex
# patterns, format names, delimiters, counts are plan-time constants
# in the reference grammar too. Default: position 0 only.
_FN_COLARGS: dict[str, object] = {
    "getenv": frozenset(), "random": frozenset(),
    "hash32": "all", "hash64": "all", "tocef": "all",
    "replace": frozenset({0, 1, 2}),
    "substring": frozenset({0}),
}


def register_config_function(
    name: str, fn: Callable[..., Column],
    column_args: frozenset | str = frozenset({0}),
) -> None:
    """Register a host-provided scalar function callable from config
    expressions — the analog of the reference's loadable function
    modules (fm*, registered via addMod2List,
    grammar/rainerscript.h:378). ``column_args`` marks which argument
    positions are coerced to Columns ("all" or a position set);
    remaining literal args pass through as Python values.
    """
    _FN_MAP[name] = fn
    _FN_COLARGS[name] = column_args


def _to_col(ast, df: DataFrame | None = None,
            tables: dict[str, Any] | None = None,
            templates: dict[str, Any] | None = None) -> Column:
    kind = ast[0]
    if kind == "lit":
        return F.lit(ast[1])
    if kind == "var":
        return _var_col(ast[1], df)
    if kind == "array":
        return F.array(*[F.lit(x) for x in ast[1]])
    if kind == "cmp":
        _, op, l, r = ast
        if ast[3][0] == "array" and op in ("==", "!="):
            c = rs_str(_to_col(l, df, tables, templates)).isin(
                [str(x) for x in ast[3][1]])
            return c if op == "==" else ~c
        if ast[3][0] == "array" and op in (
                "contains", "startswith", "endswith",
                "contains_i", "startswith_i"):
            # array RHS = OR over the members (ref: grammar array
            # comparisons; golden endswith-basic.sh — $programname
            # endswith ["_foo","-bar",".baz"])
            lc = rs_str(_to_col(l, df, tables, templates))
            base = op[:-2] if op.endswith("_i") else op
            if op.endswith("_i"):
                lc = F.lower(lc)
            import functools as _ft
            import operator as _op
            def one(x):
                v = F.lit(str(x).lower() if op.endswith("_i")
                          else str(x))
                return {"contains": lc.contains(v),
                        "startswith": lc.startswith(v),
                        "endswith": lc.endswith(v)}[base]
            return _ft.reduce(_op.or_, (one(x) for x in ast[3][1]))
        if op in ("contains", "startswith", "endswith", "contains_i",
                  "startswith_i", "isequal", "regex"):
            lc = rs_str(_to_col(l, df, tables, templates))
            rc = rs_str(_to_col(r, df, tables, templates))
            if op.endswith("_i"):
                lc, rc = F.lower(lc), F.lower(rc)
                op = op[:-2]
            return {
                "contains": lc.contains(rc),
                "startswith": lc.startswith(rc),
                "endswith": lc.endswith(rc),
                "isequal": lc == rc,
                "regex": lc.rlike(ast[3][1]) if ast[3][0] == "lit"
                else lc.rlike(rc),
            }[op]
        if op == "<>":
            op = "!="
        return rs_cmp(_to_col(l, df, tables, templates), _to_col(r, df, tables, templates), op)
    if kind in ("and", "or"):
        l, r = _to_col(ast[1], df, tables, templates), _to_col(ast[2], df, tables, templates)
        return (l & r) if kind == "and" else (l | r)
    if kind == "not":
        return ~_to_col(ast[1], df, tables, templates)
    if kind == "concat":
        return rs_concat(_to_col(ast[1], df, tables, templates),
                         _to_col(ast[2], df, tables, templates))
    if kind in ("+", "-", "*"):
        # rs_* coercion, not raw Column arithmetic: a non-numeric
        # string operand reads as 0 (var2Number; golden
        # rscript_str2num_empty.sh: 1+"" == 1, ANSI cast would throw)
        l, r = _to_col(ast[1], df, tables, templates), _to_col(ast[2], df, tables, templates)
        return {"+": rs_add, "-": rs_sub, "*": rs_mul}[kind](l, r)
    if kind == "/":
        return rs_div(_to_col(ast[1], df, tables, templates),
                      _to_col(ast[2], df, tables, templates))
    if kind == "%":
        return rs_mod(_to_col(ast[1], df, tables, templates),
                      _to_col(ast[2], df, tables, templates))
    if kind == "neg":
        return rs_neg(_to_col(ast[1], df, tables, templates))
    if kind == "callfn":
        _, name, args = ast
        if name == "lookup":
            if args[0][0] != "lit":
                raise SyntaxError("lookup needs a literal table name")
            tname = str(args[0][1])
            tbl = (tables or {}).get(tname)
            if tbl is None:
                raise KeyError(f"lookup table {tname!r} not loaded")
            return tbl.lookup(_to_col(args[1], df, tables, templates))
        if name == "prifilt":
            if args[0][0] != "lit":
                raise SyntaxError("prifilt needs a literal spec")
            return prifilt_col(str(args[0][1]))
        if name == "exists":
            return _to_col(args[0], df, tables, templates).isNotNull()
        if name == "get_property":
            # get_property($root, "name"): dynamic property read —
            # literal names resolve at plan time (ref rainerscript
            # doFunc_get_property); truly dynamic names would need a
            # CASE over every column, rejected explicitly
            if args[1][0] != "lit":
                raise SyntaxError("get_property needs a literal name")
            from rsyslog_spark.templates import prop_col
            return rs_str(prop_col(str(args[1][1])))
        if name == "script_error":
            # errno of the last fallible function call this run
            # (ref: rainerscript.c doFunc_script_error reading the
            # per-message wti errno): unflatten/parse_json call
            # sites record a row-level errno expression; reads
            # before any fallible call see 0
            from rsyslog_spark.plans.ruleset import script_errno_col
            return script_errno_col(df)
        if name == "unflatten":
            # fmunflatten (ref: contrib/fmunflatten/fmunflatten.c
            # doFunc_unflatten:148-198): arg2 must be a single char
            # (string) or its decimal charcode — anything else is an
            # error return of NUMBER 0 with script_error()=1, src
            # untouched; NULL/unset src likewise. Valid object src
            # unflattens deeply; non-object src passes through.
            from rsyslog_spark.plans.ruleset import set_script_errno
            delim = None
            if len(args) > 1 and args[1][0] == "lit":
                v = args[1][1]
                if isinstance(v, str) and len(v) == 1:
                    delim = v
                elif isinstance(v, (int, float)) and 0 < int(v) < 256:
                    delim = chr(int(v))
            if delim is None:
                set_script_errno(lambda d: F.lit(1))
                return F.lit(0)
            def _unf(d, a=args[0], dl=delim):
                return rf.unflatten(
                    _to_col(a, d, tables, templates), dl)
            set_script_errno(
                lambda d: F.when(_unf(d).isNull(), F.lit(1))
                .otherwise(F.lit(0)))
            return F.coalesce(_unf(df), F.lit("0"))
        if name == "previous_action_suspended":
            # sink health is engine-level (failover_sink); row-level
            # expression form reads 'not suspended'
            return F.lit(False)
        if name in ("dyn_inc", "percentile_observe"):
            # stats side effects: the PARSER records these calls in
            # cfg.stats_calls (see _Parser._cond/_value) so the
            # runtime attaches a dynstats/percentile aggregation over
            # the batch (ref rainerscript.c:4490); the expression
            # itself returns success (0)
            if args[0][0] != "lit":
                raise SyntaxError(f"{name} needs a literal bucket")
            return F.lit(0)
        if name == "exec_template":
            # exec_template("name"): render a registered template into
            # a string Column (ref: rainerscript exec_template; our
            # string templates compile to one concat expression)
            if args[0][0] != "lit":
                raise SyntaxError(
                    "exec_template needs a literal template name")
            tname = str(args[0][1])
            tpl = (templates or {}).get(tname)
            if tpl is None:
                raise KeyError(f"template {tname!r} not defined")
            if not hasattr(tpl, "col"):
                raise SyntaxError(
                    f"template {tname!r} is not a string template")
            return tpl.col(df)
        fn = _FN_MAP.get(name)
        if fn is None:
            raise SyntaxError(f"unknown function {name!r}")
        cooked = [a[1] if a[0] == "lit" else _to_col(a, df, tables, templates)
                  for a in args]
        colargs = _FN_COLARGS.get(name, frozenset({0}))
        idxs = range(len(cooked)) if colargs == "all" else colargs
        for i in idxs:
            if i < len(cooked) and not isinstance(cooked[i], Column):
                cooked[i] = F.lit(cooked[i])
        return fn(*cooked)
    raise SyntaxError(f"bad AST node {ast!r}")


def _cond_fn(ast, tables: dict[str, Any] | None = None,
             templates: dict[str, Any] | None = None
             ) -> Callable[[DataFrame], Column]:
    return lambda df: _to_col(ast, df, tables, templates)


def _value_fn(ast, tables: dict[str, Any] | None = None,
              templates: dict[str, Any] | None = None
              ) -> Callable[[DataFrame], Column]:
    return lambda df: _to_col(ast, df, tables, templates)


def _gated_mm(fn, touched: tuple[str, ...] = ()):
    """Wrap an operator ``df -> df`` into a live-gated Transform fn:
    columns the op ADDS are NULL for rows the action doesn't reach;
    EVERY pre-existing column the op rewrites reverts to its prior
    value there — the interpreter simply skips doAction for those
    messages (ref: runtime/ruleset.c execAct).

    All pre-existing columns are snapshotted, not just a static
    ``touched`` list: two mm actions under different filters writing
    the same output column must not let the later stage's NULLs
    clobber the earlier stage's values for rows it never reached.
    The snapshot is one extra projection; for columns fn leaves
    untouched the resulting ``when(live, c).otherwise(c)`` has
    semantically-equal branches and Catalyst's SimplifyConditionals
    collapses it to the bare attribute, so only genuinely rewritten
    columns pay the conditional. ``touched`` is kept for API compat
    but no longer limits the revert set."""
    del touched  # superseded by the full-snapshot revert

    def apply(df: DataFrame, live: Column) -> DataFrame:
        before = list(df.columns)
        before_set = set(before)
        tmp = df.select(
            "*", *[F.col(c).alias(f"__mm_orig_{c}") for c in before])
        out = fn(tmp)
        have_orig = {c for c in out.columns
                     if c.startswith("__mm_orig_")}
        for c in out.columns:
            if c.startswith("__mm_orig_"):
                continue
            meta = out.schema[c].metadata   # withColumn drops it
            if c not in before_set:
                out = out.withColumn(c, F.when(live, F.col(c)))
            elif f"__mm_orig_{c}" in have_orig:
                out = out.withColumn(
                    c, F.when(live, F.col(c))
                    .otherwise(F.col(f"__mm_orig_{c}")))
            else:
                continue
            if meta:
                out = out.withMetadata(c, meta)
        # an op that DROPPED a pre-existing column: non-live rows
        # must keep their prior values (live rows take the drop —
        # restored as NULL, the closest frame-level analog)
        out_cols = set(out.columns)
        for c in before:
            if c not in out_cols and f"__mm_orig_{c}" in have_orig:
                out = out.withColumn(
                    c, F.when(~live, F.col(f"__mm_orig_{c}")))
        return out.drop(*sorted(have_orig))
    return apply


#: last-good policy per path — the reference's policyWatch keeps the
#: previously-built policy when a reload fails to parse/validate
#: (plugins/mmjsontransform: buildPolicy failure on HUP/watch leaves
#: pData->policy untouched and logs; golden
#: mmjsontransform-policy-basic.sh phase 3)
_POLICY_LAST_GOOD: dict[str, dict] = {}


def _validate_json_policy(path: str) -> dict:
    """Parse + validate one mmjsontransform policy file version
    (buildPolicy analog — raises on bad YAML / bad mode)."""
    import yaml

    with open(path, encoding="utf-8") as fh:
        pol = yaml.safe_load(fh) or {}
    if not isinstance(pol, dict):
        raise ValueError("policy is not a mapping")
    if pol.get("mode") not in ("flatten", "unflatten"):
        raise ValueError(
            f"policy mode {pol.get('mode')!r} is invalid; use "
            "'unflatten' or 'flatten'")
    return pol


def _load_json_policy(path: str, *, watch: bool = False,
                      debounce_ms: int = 5000) -> dict:
    """Load + validate a mmjsontransform YAML policy; on failure keep
    serving the last good policy for this path (log the reload
    failure), raising only when no good policy was ever loaded.

    ``watch=True`` (mmjsontransform policyWatch, ChangeLog
    2026-04-13; debounce default 5000 ms per setInstParamDefaults)
    switches to the rswatch analog: the file is re-STATed per call
    — per batch run / streaming micro-batch — and reloads only once
    a change is older than the debounce window."""
    import logging

    if watch:
        from rsyslog_spark.config.rswatch import watched_load

        return watched_load(path, _validate_json_policy,
                            debounce_ms=debounce_ms,
                            tag="mmjsontransform policy")
    try:
        pol = _validate_json_policy(path)
    except Exception as e:
        old = _POLICY_LAST_GOOD.get(path)
        if old is not None:
            logging.getLogger("rsyslog_spark.mmjsontransform").warning(
                "failed to reload policy file %s: %s — keeping "
                "previous policy", path, e)
            return old
        raise ValueError(f"mmjsontransform: {e}") from e
    _POLICY_LAST_GOOD[path] = pol
    return pol


# module(load="…mmsnareparse" …) defaults captured at parse time —
# reset per parse_config() call, applied by the mmsnareparse action
_SNARE_MODULE_PARAMS: dict = {}


def _mm_transform(atype: str, params: dict):
    """Compile an mm* action into an in-place Transform statement —
    the reference's message-modification actions mutate the message
    for SUBSEQUENT statements rather than sinking rows. Returns None
    for mm types that need host injection (mmexternal binaries,
    mmaitag/mmdarwin providers) — those stay Actions for host wiring.

    Extracted fields land in the ``$!`` tree's flat columns
    (``cee_<name>``), which templates, expressions, and set/unset all
    read (config _var_col / templates.prop_col)."""
    p = {k.lower(): v for k, v in params.items()}

    def flag(key, default="off"):
        return str(p.get(key, default)).lower() in ("on", "true", "1")

    if atype == "mmdblookup":
        # action(type="mmdblookup" mmdbfile=.. key="$!ip"
        #        fields="city"|[":var:!path", "!a!b", ...])
        # (ref: plugins/mmdblookup/mmdblookup.c:280-312 field parse;
        # container default "!iplocation", mmdblookup.c:47). The
        # .mmdb exports to an IPv4 range table at CONFIG LOAD
        # (operators/mmdb.py, pure-spec reader) feeding the
        # broadcast range join; deep field reads go through variant
        # gets so numeric leaves stay numeric.
        mmdbfile = p.get("mmdbfile")
        keyvar = p.get("key", "$!ip")
        raw_fields = p.get("fields", [])
        if isinstance(raw_fields, str):
            raw_fields = [raw_fields]
        container = str(p.get("container", "!iplocation")).lstrip("!")
        fields: list[tuple[str, list[str]]] = []
        for param in raw_fields:
            param = str(param)
            varname_ = None
            if param.startswith(":"):
                b = param.index(":", 1)
                varname_ = param[1:b]
                param = param[b + 1:]
            name = param.lstrip("!")
            segs = name.split("!")
            out_segs = (varname_.split("!") if varname_ else segs)
            fields.append((name, out_segs))
        try:
            from rsyslog_spark.operators.mmdb import MMDBReader
            MMDBReader(mmdbfile)           # validate at load
        except (OSError, ValueError) as exc:
            # the reference logs and keeps running with the action
            # suspended (golden mmdb-open-missing.sh content check)
            import sys as _sys
            print(f"maxminddb error: cannot open database file "
                  f"{mmdbfile}: {exc}", file=_sys.stderr)

            def noop(df):
                return df
            return Transform("mmdblookup", _gated_mm(noop))

        def fn(df, _file=mmdbfile, _key=keyvar, _fields=fields,
               _container=container):
            from rsyslog_spark.operators.lookup import (
                geoip_range_join)
            from rsyslog_spark.operators.mmdb import mmdb_ranges_df
            ranges = mmdb_ranges_df(df.sparkSession, _file)
            ip = rs_str(_var_col(_key, df))
            joined = geoip_range_join(
                df.withColumn("__mmdb_ip", ip), "__mmdb_ip", ranges)
            rec = F.try_parse_json(F.col("record"))

            def leaf(segs_in):
                path = "$." + ".".join(segs_in)
                return F.to_json(F.try_variant_get(
                    rec, path, "variant"))

            def build(items, depth):
                cols = []
                i = 0
                while i < len(items):
                    out_segs, in_name = items[i]
                    if len(out_segs) == depth + 1:
                        v = leaf(in_name.split("!"))
                        cols.append(F.when(v.isNotNull(), F.concat(
                            F.lit(f'"{out_segs[depth]}":'), v)))
                        i += 1
                        continue
                    seg = out_segs[depth]
                    group = []
                    while i < len(items) \
                            and len(items[i][0]) > depth \
                            and items[i][0][depth] == seg:
                        group.append(items[i])
                        i += 1
                    cols.append(F.concat(
                        F.lit(f'"{seg}":{{'),
                        build(group, depth + 1), F.lit("}")))
                return F.concat_ws(",", *cols)

            items = [(out_segs, name) for name, out_segs in _fields]
            tree = F.concat(F.lit("{"), build(items, 0), F.lit("}"))
            flat = varname("$!" + _container)
            out = joined.withColumn(
                flat, F.when(F.col("record").isNotNull(), tree)) \
                .drop("__mmdb_ip", "range_lo", "range_hi", "record")
            return out.withMetadata(flat, {"rs_json": True})
        return Transform("mmdblookup", _gated_mm(fn))
    if atype == "mmnormalize":
        from rsyslog_spark.operators.normalize import (
            normalize, parse_rulebase)
        if p.get("rulebase"):
            with open(p["rulebase"], encoding="utf-8") as fh:
                rb_text = fh.read()
        elif p.get("rule"):
            raw = p["rule"]
            lines = raw if isinstance(raw, list) else [raw]
            rb_text = "\n".join(lines)
        else:
            raise ValueError("mmnormalize needs rulebase= or rule=")
        rules = parse_rulebase(rb_text)
        src = "rawmsg" if flag("userawmsg") else "msg"
        # variable="$.x": normalize the VARIABLE's value instead of
        # the message (mmnormalize.c "variable" param; golden
        # mmnormalize_variable.sh pairs it with exec_template)
        srcvar = p.get("variable")

        def fn(df, _rules=rules, _src=src, _var=srcvar):
            if _var:
                tmp = "__nrm_src"
                df = df.withColumn(tmp, rs_str(_var_col(_var, df)))
                return normalize(df, _rules, msg_col=tmp,
                                 prefix="cee_",
                                 rule_col="__nrm_tag",
                                 match="specific") \
                    .drop("__nrm_tag", tmp)
            col = _src if _src in df.columns else "msg"
            return normalize(df, _rules, msg_col=col, prefix="cee_",
                             rule_col="__nrm_tag",
                             match="specific").drop("__nrm_tag")
        return Transform("mmnormalize", _gated_mm(fn))
    if atype == "mmjsonparse":
        from rsyslog_spark.operators.mm import mmjsonparse
        if p.get("mode", "cookie") not in ("cookie", "find-json"):
            # mmjsonparse.c mode validation (golden
            # mmjsonparse-find-json-invalid-mode.sh)
            raise ValueError(
                f"mmjsonparse: invalid mode '{p.get('mode')}'")
        kw = dict(cookie=p.get("cookie", "@cee:"),
                  mode=p.get("mode", "cookie"),
                  max_scan_bytes=int(p.get("max_scan_bytes", "65536")),
                  allow_trailing=flag("allow_trailing", "on"))
        # container="$!name" (mmjsonparse.c CONTAINER_NAME, default
        # "$!"): the parse lands at a NAMED subtree instead of the
        # root tree; useRawMsg scans the raw line (best practice per
        # data_pipeline-qradar.sh when a header may be absent)
        container = p.get("container", "$!")
        use_raw = flag("userawmsg")

        def fn(df, _kw=kw, _container=container, _raw=use_raw):
            from rsyslog_spark.plans.ruleset import fold_var, varname
            src = "rawmsg" if _raw and "rawmsg" in df.columns else "msg"
            if _container in ("$!", "!"):
                out = mmjsonparse(df, msg_col=src, **_kw)
            else:
                oc = varname(_container)
                out = mmjsonparse(df, msg_col=src, out_col=oc, **_kw)
                # hierarchy conflict: a container path whose PARENT
                # variable holds a SCALAR cannot be created — the
                # parse FAILS for those rows and the tree keeps the
                # scalar (msg.c msgAddJSON refuses non-object
                # overwrite; golden mmjsonparse-find-json-conflict.sh
                # 'parsesuccess=FAIL json={ "conflict": "scalar" }')
                segs = _container.lstrip("$").lstrip("!").split("!")
                confl = None
                for k in range(1, len(segs)):
                    pcol = varname("$!" + "!".join(segs[:k]))
                    if pcol in df.columns and not (
                            df.schema[pcol].metadata or {}
                    ).get("rs_json"):
                        c = qcol(pcol).isNotNull()
                        confl = c if confl is None else (confl | c)
                if confl is not None:
                    out = out.withColumn(
                        oc, F.when(confl, F.lit(None).cast("string"))
                        .otherwise(qcol(oc)))
                    out = out.withColumn(
                        "json_parsed",
                        F.when(confl, F.lit(False))
                        .otherwise(F.col("json_parsed")))
                out = out.withMetadata(
                    oc, {"rs_path": fold_var(_container),
                         "rs_json": True})
            # the reference overwrites bParseSuccess with the JSON
            # parse result (MsgSetParseSuccess) — $parsesuccess
            # filters see mmjsonparse's outcome
            if "parsesuccess" in out.columns:
                out = out.withColumn("parsesuccess",
                                     F.col("json_parsed"))
            return out
        return Transform(atype, _gated_mm(fn))
    if atype == "mmjsontransform":
        from rsyslog_spark.operators.mm import mmjsontransform

        def fn_t(df, _p=p):
            from rsyslog_spark.plans.ruleset import fold_var, varname
            inp = _p.get("input", "$!")
            outp = _p.get("output", "$!transformed")
            ic = varname(inp) if inp not in ("$!", "!") else "json"
            oc = varname(outp)
            mode = _p.get("mode", "unflatten")
            drop = rename = None
            if _p.get("policy"):
                # YAML policy file (mmjsontransform.c policyPath:
                # version/mode/map.rename/map.drop; renames and
                # drops apply on the FLAT key set both modes share).
                # Read at EXEC time — each batch run re-reads the
                # file, the per-run analog of the reference's HUP /
                # policyWatch reload. An INVALID reload (bad YAML /
                # bad mode) keeps serving the LAST GOOD policy and
                # logs the failure (mmjsontransform-policy-basic.sh
                # phase 3: mode "sideways" → message 3 still renders
                # with policy 2, "failed to reload policy file"
                # logged); only a first-ever load may raise.
                # policyWatch / policyWatchDebounce (ChangeLog
                # 2026-04-13; defaults mmjsontransform.c:266-267)
                # debounce reloads via the rswatch analog.
                watch = str(_p.get("policywatch", "off")
                            ).lower() in ("on", "true", "1")
                deb = 5000
                if _p.get("policywatchdebounce"):
                    from rsyslog_spark.config.rswatch import \
                        duration_ms
                    deb = duration_ms(_p["policywatchdebounce"])
                pol = _load_json_policy(_p["policy"], watch=watch,
                                        debounce_ms=deb)
                mode = pol.get("mode", mode)
                m = pol.get("map") or {}
                rename = m.get("rename") or None
                drop = m.get("drop") or None
            out = mmjsontransform(
                df, input_col=ic, output_col=oc, mode=mode,
                drop_keys=drop, rename_rules=rename,
                # stored text renders json-c SPACED so subtree
                # templates are byte-exact (glblJsonFormatOpt
                # default; data_pipeline-qradar.sh cmp_exact)
                render="spaced")
            return out.withMetadata(
                oc, {"rs_path": fold_var(outp), "rs_json": True})
        return Transform(atype, _gated_mm(fn_t))
    if atype == "mmfields":
        from rsyslog_spark.operators.mm import mmfields
        delim = p.get("separator", ",")
        return Transform(atype, _gated_mm(
            lambda df: mmfields(df, delim=delim, prefix="cee_f")))
    if atype == "mmanon":
        from rsyslog_spark.operators.mm import mmanon
        # ipv4 on by default (ref mmanon defaults); ipv6/embedded
        # apply when explicitly enabled. r5: all modes implemented —
        # zero/simple/random/random-consistent(-unique) at any bit
        # width (partial ipv6 widths expand '::' per match)
        bits = (int(p.get("ipv4.bits", "16"))
                if flag("ipv4.enable", "on") else 0)
        mode = p.get("ipv4.mode", p.get("mode", "zero"))
        kw = {}
        if p.get("ipv4.replacechar"):
            # simple-mode digit replacement char (mmanon.c
            # replaceChar; golden mmanon_simple_33_ipv4.sh '*')
            kw["replace_char"] = str(p["ipv4.replacechar"])[:1]
        # ipv6 + embedded-ipv4 are ON BY DEFAULT, like ipv4 (mmanon.c
        # setInstParamDefaults:279-305: enable=1, ipv6 bits 96;
        # golden mmanon_zero_50_ipv6.sh sets only ipv6.bits)
        if flag("ipv6.enable", "on"):
            kw["ipv6_bits"] = int(p.get("ipv6.bits", "96"))
            kw["ipv6_mode"] = p.get("ipv6.anonmode", "zero")
        if flag("embeddedipv4.enable", "on"):
            kw["embedded_bits"] = int(p.get("embeddedipv4.bits",
                                            "96"))
            kw["embedded_mode"] = p.get("embeddedipv4.anonmode",
                                        "zero")
        return Transform(atype, _gated_mm(
            lambda df: mmanon(df, bits=bits, mode=mode, **kw),
            touched=("msg",)))
    if atype == "mmsnareparse":
        from rsyslog_spark.parsers.vendors import mmsnareparse

        # module(load="…mmsnareparse" definition.file=… ) params act
        # as per-action defaults (mmsnareparse.c modpdescr :5356)
        mp = dict(_SNARE_MODULE_PARAMS)
        mp.update(p)

        def fn_snare(df, _p=mp):
            def ci(key, default=None):
                kl = key.lower()
                for k, v in _p.items():
                    if k.lower() == kl:
                        return v
                return default
            return mmsnareparse(
                df,
                ignore_trailing_pattern=ci("ignoreTrailingPattern"),
                ignore_trailing_regex=ci("ignoreTrailingPattern.regex"),
                search_window=int(
                    ci("ignoreTrailingPattern.searchWindow", 256)),
                definition=ci("definition.file",
                              ci("definition.json")),
                validation_mode=ci("validation.mode", "permissive"))
        return Transform(atype, _gated_mm(fn_snare))
    if atype == "mmleefparse":
        # LEEF parser action (ref: plugins/mmleefparse/
        # mmleefparse.c:398-541): useRawMsg defaults ON with a
        # 64-char cookie search window, so the 'LEEF:' cookie is
        # found past the syslog header; the parse lands at
        # <container> as {header:{protocolVersion,vendor,product,
        # productVersion,eventID}, fields:{k:v}} and $parsesuccess
        # reflects the cookie/parse outcome (golden
        # mmleefparse_basic.sh)
        from rsyslog_spark.parsers.vendors import mmleefparse
        cont = "$!" + str(p.get("container", "!leef"))             .lstrip("$").lstrip("!")
        delim = str(p.get("delimiter", "\t"))
        window = int(p.get("searchWindow",
                           p.get("searchwindow", "64")))
        flat = varname(cont)

        def fn_l(df, _c=cont, _f=flat, _d=delim, _w=window):
            from rsyslog_spark.plans.ruleset import fold_var
            raw = F.col("rawmsg") if "rawmsg" in df.columns                 else F.col("msg")
            pos = F.locate("LEEF:", F.substring(raw, 1, _w + 5))
            leef = F.when(pos > 0,
                          F.substr(raw, pos, F.lit(1 << 30)))
            out = mmleefparse(df.withColumn("__lf_src", leef),
                              msg_col="__lf_src", delimiter=_d,
                              prefix="__lf_")
            hdr = F.to_json(F.struct(
                F.col("__lf_version").alias("protocolVersion"),
                F.col("__lf_vendor").alias("vendor"),
                F.col("__lf_product").alias("product"),
                F.col("__lf_product_version").alias("productVersion"),
                F.col("__lf_event_id").alias("eventID")))
            tree = F.concat(
                F.lit('{"header":'), hdr, F.lit(',"fields":'),
                F.coalesce(F.to_json(F.col("__lf_fields")),
                           F.lit("{}")), F.lit("}"))
            matched = F.coalesce(F.col("__lf_matched"),
                                 F.lit(False))
            out = out.withColumn(_f, F.when(matched, tree))
            out = out.withColumn(
                _f, qcol(_f).alias(_f, metadata={
                    "rs_path": fold_var(_c), "rs_json": True}))
            if "parsesuccess" in out.columns:
                out = out.withColumn("parsesuccess", matched)
            return out.drop(*[c for c in out.columns
                              if c.startswith("__lf_")])
        return Transform(atype, _gated_mm(fn_l))
    if atype == "mmutf8fix":
        from rsyslog_spark.operators.mm import mmutf8fix
        # replacementChar / replacementSequence (mmutf8fix.c:81,
        # 171-192 — mutually exclusive; the sequence may be
        # multi-byte, e.g. the UTF-8 replacement char "\xef\xbf\xbd").
        # DIVERGENCE (documented in the operator): the reference
        # replaces each invalid BYTE; Spark strings arrive decoded,
        # so each decoder-emitted U+FFFD is replaced instead.
        rseq = p.get("replacementSequence",
                     p.get("replacementsequence"))
        rchar = p.get("replacementChar", p.get("replacementchar"))
        if rseq is not None and rchar is not None:
            # mmutf8fix.c:192 RS_RET_CONFIG_ERROR (golden
            # mmutf8fix_replacement_sequence_conflict.sh)
            raise ValueError(
                "mmutf8fix: replacementChar and replacementSequence "
                "are mutually exclusive")
        if rseq is not None and str(rseq) == "":
            raise ValueError(
                "mmutf8fix: replacementSequence must not be empty")
        repl = rseq if rseq is not None else (
            rchar if rchar is not None else " ")
        return Transform(atype, _gated_mm(
            lambda df, _r=str(repl): mmutf8fix(df, replacement=_r),
            touched=("msg",)))
    if atype == "mmrm1stspace":
        from rsyslog_spark.operators.mm import mmrm1stspace
        return Transform(atype, _gated_mm(mmrm1stspace,
                                          touched=("msg",)))
    if atype == "mmpstrucdata":
        from rsyslog_spark.operators.mm import mmpstrucdata
        lowercase = flag("sd_name.lowercase", "on")
        # jsonRoot/container params (mmpstrucdata.c:54-55,153-175):
        # the parse lands at <jsonRoot>!<container>; a leading '$' on
        # jsonRoot is stripped (pre-8.35 compat)
        jroot = str(p.get("jsonRoot", p.get("jsonroot",
                                            "$!"))).lstrip("$")
        cont = str(p.get("container", "rfc5424-sd"))
        path = "$" + jroot.rstrip("!") + "!" + cont
        flat = varname(path)
        maxsd = int(p.get("maxStructuredDataSize",
                          p.get("maxstructureddatasize", "0")))

        def fn(df, _lc=lowercase, _flat=flat, _path=path,
               _max=maxsd):
            out = mmpstrucdata(df)
            m = F.col("rfc5424_sd")
            if _lc:
                # sd_name.lowercase default on: SD-IDs AND param
                # names fold to lowercase in the tree (mmpstrucdata.c
                # parseSD_NAME:259 runs for both; golden
                # mmpstrucdata-case.sh pins the off mode)
                m = F.map_from_arrays(
                    F.transform(F.map_keys(m), F.lower),
                    F.transform(
                        F.map_values(m),
                        lambda pm: F.map_from_arrays(
                            F.transform(F.map_keys(pm), F.lower),
                            F.map_values(pm))))
            # doAction (mmpstrucdata.c): protocol-0 messages have no
            # SD flag — untouched; NIL SD → an EXPLICIT json null
            # container (parse_null_sd; golden
            # mmpstrucdata-container-null.sh); oversize SD skipped
            sd = F.col("structured_data")
            proto1 = F.col("protocol_version") == 1
            ok = sd.isNotNull()
            if _max > 0:
                ok = ok & (F.length(sd) <= _max)
            val = F.when(proto1 & ok, F.to_json(m))                 .when(proto1 & sd.isNull(), F.lit("null"))
            out = out.withColumn(_flat, val) \
                .withMetadata(_flat, {"rs_path": _path,
                                      "rs_json": True})
            return out
        return Transform(atype, _gated_mm(fn))
    if atype == "mmtaghostname":
        from rsyslog_spark.operators.mm import mmtaghostname
        tag = p.get("tag") or None
        force = flag("forcelocalhostname")

        def _mth(df, _tag=tag, _force=force):
            # local_hostname() resolves at EXEC time so a
            # global(localhostname=...) later in the config (set by
            # load_config after parsing) is honored — golden
            # mmtaghostname_server.sh
            from rsyslog_spark.session import local_hostname
            return mmtaghostname(
                df, tag=_tag,
                hostname=local_hostname() if _force else None)
        return Transform(atype, _gated_mm(
            _mth, touched=("syslogtag", "hostname")))
    return None


#: "overly large" in-memory queue watermark (runtime/queue.c:239)
_OVERSIZE_QUEUE_WATERMARK = 500_000


def _check_queue_size(params: dict) -> None:
    """queue.size sanity warnings at config load (runtime/queue.c:
    4955-4966: >2^31-1 corrected to maximum, >500000 'is very large';
    golden queue_warnmsg-oversize.sh content_check). Also the
    positive-int grammar check for queue.workerthreads
    (grammar/rainerscript.c:1105; golden
    queue-invalid-workerthreads-zero.sh)."""
    wt = params.get("queue.workerthreads")
    if wt is not None:
        try:
            n = int(wt)
        except (TypeError, ValueError):
            n = 1
        if n < 1:
            raise ValueError(
                "parameter 'queue.workerthreads' cannot be less "
                f"than one (was {n})")
    raw = params.get("queue.size")
    if raw is None:
        return
    try:
        size = int(raw)
    except (TypeError, ValueError):
        return
    import warnings
    if size > 0x7FFFFFFF:
        warnings.warn("queue.size higher than maximum (2147483647) "
                      "- corrected to maximum")
        params["queue.size"] = "2147483647"
    elif size > _OVERSIZE_QUEUE_WATERMARK:
        warnings.warn(
            f"warning: queue.size={size} is very large - is this "
            "really intended? More info at "
            "https://www.rsyslog.com/avoid-overly-large-in-memory-queues/")


def _config_disabled(params: dict) -> bool:
    """config.enabled — accepted on EVERY object (rainerscript.c
    nvlstChkDisabled): any value but "on" disables it; `off` is the
    documented spelling. Goldens config_enabled-{on,off,off-action}.sh."""
    for k, v in params.items():
        if k.lower() == "config.enabled":
            return str(v).lower() != "on"
    return False


def _uniquify_action_names(cfg) -> None:
    """Give actions UNIQUE engine names. Action names default to the
    file=/topic= target, so two actions writing the same file collide
    — and the runtime's name→params lookup (_action_params) would
    hand EVERY such action the first one's params (template, options):
    observed as all three actions of template-property-
    transformations.sh rendering the first action's template. Each
    reference action is a distinct instance (action.name only labels
    stats); suffixing '#N' in statement order is deterministic per
    parse, so per-run reload phases see stable names."""
    from rsyslog_spark.plans.ruleset import Action

    seen: dict[str, int] = {}
    visited: set[int] = set()

    def walk(stmts):
        for s in stmts:
            if isinstance(s, Action):
                if id(s) in visited:      # '&' splices share objects
                    continue
                visited.add(id(s))
                n = seen.get(s.name, 0) + 1
                seen[s.name] = n
                if n > 1:
                    if (s.params or {}).get("name"):
                        # an EXPLICIT name= collision gets the
                        # reference's load-time warning (action.c
                        # qqueueSetActionName dup check; golden
                        # action-duplicate-name.sh) — config loads on
                        import warnings
                        warnings.warn(
                            f"action: duplicate name '{s.name}' in "
                            "current config set; impstats counters "
                            "may be ambiguous")
                    s.name = f"{s.name}#{n}"
            for sub in (getattr(s, "then", None),
                        getattr(s, "orelse", None),
                        getattr(s, "body", None)):
                if sub:
                    walk(sub)

    for rs in cfg.rulesets.values():
        walk(rs.stmts)


def _make_action(params: dict[str, str]):
    _check_queue_size(params)
    atype = params.get("type", "")
    if atype == "omfile":
        # omfile.c newActInst:1485-1495 + :1559 (goldens
        # omfile-null-filename.sh, omfile-whitespace-filename.sh,
        # omfile_both_files_set.sh)
        if params.get("file") and params.get("dynafile"):
            import warnings
            warnings.warn('omfile: both "file" and "dynafile" set, '
                          "will use dynafile")
            params = {k: v for k, v in params.items() if k != "file"}
        if not str(params.get("file", params.get(
                "dynafile", ""))).strip() \
                and not params.get("outchannel") \
                and not params.get("target") \
                and not params.get("name"):
            # name-only omfile actions stay legal: the engine exposes
            # them as named captured frames (eng.run() consumers)
            raise ValueError(
                'omfile: either the "file" or "dynafile" parameter '
                "must be given")
    if atype == "omdiscard":
        return Stop()
    if atype.startswith("mm"):
        t = _mm_transform(atype, params)
        if t is not None:
            return t
    name = params.get("name") or params.get("file") \
        or params.get("topic") or atype or "action"
    return Action(name, params=params)


# ----------------------------------------------------------- public API

def parse_config(src: str, base_dir: str = ".") -> ParsedConfig:
    """Parse rsyslog.conf text → ParsedConfig (rulesets compiled to
    the plans/ruleset DSL; modules/inputs/templates recorded).
    ``base_dir`` resolves relative include()/$IncludeConfig paths."""
    _SNARE_MODULE_PARAMS.clear()
    return _Parser(_lex(src), base_dir=base_dir).parse_config()


def load_config(src: str, tables: dict[str, Any] | None = None,
                base_dir: str = "."):
    """Parse and wrap in a RulesetEngine ready to run on a canonical
    syslog DataFrame.

    lookup_table(name=.. file=..) objects load from their JSON files
    (reference file format, lookup_tables.rst); pass ``tables`` to
    inject/override LookupTable instances (tests, reloads). Tables are
    scoped to THIS config's ParsedConfig.active_tables — two configs
    never see each other's tables."""
    from rsyslog_spark.operators.lookup import LookupTable
    from rsyslog_spark.plans.ruleset import RulesetEngine

    cfg = parse_config(src, base_dir=base_dir)
    # global(variables.casesensitive=...) — process-global like the
    # reference's fjson switch (glbl.c:1405); ALWAYS set so each
    # config load re-establishes its own (or the default) mode
    from rsyslog_spark.plans.ruleset import set_var_case_sensitive
    set_var_case_sensitive(
        str(cfg.directives.get("variables.casesensitive",
                               "off")).lower() in ("on", "true", "1"))
    # global(compactJsonString=...) — PLAIN vs SPACED whole-tree
    # renders (glbl.c:1433); reference default SPACED
    from rsyslog_spark.templates import set_compact_json_string
    set_compact_json_string(
        str(cfg.directives.get("compactjsonstring",
                               "off")).lower() in ("on", "true", "1"))
    # global(localhostname=...) — engine-wide local-host override
    # (glbl.c LocalHostName; golden mmtaghostname_server.sh)
    from rsyslog_spark.session import (set_local_hostname,
                                       set_preserve_fqdn)
    set_local_hostname(cfg.directives.get("localhostname"))
    # $PreserveFQDN / global(preserveFQDN=..): keep the full
    # locally-resolved name instead of stripping at the first dot
    # (glbl.c:899 glblGetLocalHostName; tools/rsyslogd.c
    # queryLocalHostname dot-split)
    set_preserve_fqdn(
        str(cfg.directives.get("preservefqdn", "off")).lower()
        in ("on", "true", "1"))
    for name, params in cfg.lookup_tables.items():
        if "file" in params:
            try:
                cfg.active_tables[name] = LookupTable.from_json_file(
                    params["file"])
            except (FileNotFoundError, OSError):
                stub = cfg.reload_stubs.get(name)
                if stub is None:
                    raise
                # failed (re)load with a stub configured: the table
                # enters STUB mode — every lookup returns the stub
                # (lookup.c lookupReload; golden
                # lookup_table_rscript_reload.sh 'reload_failed')
                cfg.active_tables[name] = LookupTable(
                    type="string", nomatch=stub, entries=[])
    for name, tbl in (tables or {}).items():
        cfg.active_tables[name] = tbl
    return RulesetEngine(list(cfg.rulesets.values())), cfg
