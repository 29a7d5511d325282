"""The ``$!`` / ``$.`` tree renders: plan size per set leaf, the Set
metadata the renderers read, and byte-exact output for leaf values
that JSON escaping, regexes and line handling get wrong.

The renders build one Column expression over every set leaf; a
subexpression referenced twice is copied twice into the plan, so the
expression must grow by a small constant per leaf, not multiply
(templates._concat_obj, templates._let)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rsyslog_spark.config.runtime import run_config_batch
from rsyslog_spark.plans import Ruleset, RulesetEngine, Set
from rsyslog_spark.templates import prop_col


def _tree_frame(spark, n: int):
    """One row with n set $!a!k<i> leaves and n set $.l<i> leaves."""
    df = spark.createDataFrame([("m",)], "msg string")
    stmts = ([Set(f"$!a!k{i}", F.lit(f"v{i}")) for i in range(n)]
             + [Set(f"$.l{i}", F.lit(i)) for i in range(n)])
    eng = RulesetEngine([Ruleset("RSYSLOG_DefaultRuleset", stmts)])
    return eng.run(df)[1]


def test_tree_render_plan_grows_linearly(spark):
    """%!%, %!a% and %$.% over 4 and 16 leaves: the rendered Column's
    text grows by at most 4 KiB per added leaf (the renders that
    re-inlined the set tree grew 108, 215 and 1 KiB per leaf)."""
    small, big = _tree_frame(spark, 4), _tree_frame(spark, 16)
    for name in ("$!", "$!a", "$."):
        grow = (len(str(prop_col(name, big)))
                - len(str(prop_col(name, small)))) / 12
        assert grow <= 4096, (name, grow)
    got = big.select(prop_col("$!a", big).alias("o"),
                     prop_col("$.", big).alias("l")).first()
    assert got.o == "{ " + ", ".join(
        f'"k{i}": "v{i}"' for i in range(16)) + " }"
    assert got.l == "{" + ",".join(f'"l{i}":{i}' for i in range(16)) + "}"


def test_set_metadata_in_one_projection(spark):
    """Each set is one projection, and the rs_path / rs_json_maybe
    metadata the tree renderers read survives on a deep path and on a
    tree-var read."""
    df = spark.createDataFrame([("m",)], "msg string")
    eng = RulesetEngine([Ruleset("RSYSLOG_DefaultRuleset", [
        Set("$.obj!k", F.lit("v")),
        Set("$!a!b", F.lit("x")),
        Set("$!c", F.col("local_obj_k"), maybe_json=True),
        Set("$!n", F.lit(1), maybe_json=True),
    ])])
    out = eng.run(df)[1]
    meta = {f.name: f.metadata for f in out.schema.fields}
    assert meta["cee_a_b"] == {"rs_path": "$!a!b"}
    assert meta["local_obj_k"] == {"rs_path": "$.obj!k"}
    assert meta["cee_c"] == {"rs_path": "$!c", "rs_json_maybe": True}
    assert meta["cee_n"] == {"rs_path": "$!n"}
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("Project [") == 4   # one per set


# Leaves JSON escaping and regexes get wrong: '/', '"', '\\', LF and CR
# (JSON-escaped), U+2028 and U+0085 (left raw by to_json, and not
# matched by Java regex '.' without (?s)), the empty string, a leaf a
# gated set never wrote (drops out), an integer, a boolean, and a
# tree-var copy (rs_json_maybe: spliced raw). %$.rd% reads the $!v
# subtree back through a variable. The parsed json column (second
# case pair) adds a key that collides with a set key (the dedup merge)
# and one that does not (the concatenating merge).
_HOSTILE_BODY = """
  set $!v!slash = "/";
  set $!v!quote = "\\"";
  set $!v!bs = "\\\\";
  set $!v!nl = "\\n";
  set $!v!cr = "\\r";
  set $!v!ls = "\u2028";
  set $!v!nel = "\x85";
  set $!v!empty = "";
  if $msg contains "zzz-never" then set $!v!unset = "x";
  set $!v!int = 42;
  set $!v!bool = 2 > 1;
  set $.obj!k = "v/w";
  set $.obj!n = 7;
  set $!a!b = $.obj;
  set $.rd = $!v;
"""
_HOSTILE_TEMPLATES = {"all": "%!%", "sub_v": "%!v%", "sub_a": "%!a%",
                      "loc": "%$.%", "rd": "%$.rd%", "ab": "%!a!b%"}
_PLAIN_MSG = "<13>Mar  1 01:00:00 host tag: hello\n"
_JSON_MSGS = ('<13>Mar  1 01:00:00 host tag: @cee:'
              '{"p":"x/y\\u2028","v":{"old":1},"s":"q"}\n'
              '<13>Mar  1 01:00:00 host tag: @cee:'
              '{"p":"x\\/y","q":[1,{"r":"\\n"}]}\n')

# rendered by the renderers before they were rewritten to reference
# each subexpression once; the rewrite must keep every byte
EXPECTED = {
    (False, False): {
        "all": (
            '{ "v": { "slash": "\\/", "quote": "\\"", "bs": "\\\\", '
            '"nl": "\\n", "cr": "\\r", "ls": "\u2028", "nel": "\x85",'
            ' "empty": "", "int": 42, "bool": true }, "a": { "b": { '
            '"k": "v\\/w", "n": 7 } } }\n'),
        "sub_v": (
            '{ "slash": "\\/", "quote": "\\"", "bs": "\\\\", "nl": "\\n",'
            ' "cr": "\\r", "ls": "\u2028", "nel": "\x85", "empty": "",'
            ' "int": 42, "bool": true }\n'),
        "sub_a": (
            '{ "b": { "k": "v\\/w", "n": 7 } }\n'),
        "loc": (
            '{"obj":{"k":"v/w","n":7},"rd":{"slash":"/","quote":"\\"",'
            '"bs":"\\\\","nl":"\\n","cr":"\\r","ls":"\u2028","nel":"\x85",'
            '"empty":"","int":42,"bool":true}}\n'),
        "rd": (
            '{ "slash": "\\/", "quote": "\\"", "bs": "\\\\", "nl": "\\n",'
            ' "cr": "\\r", "ls": "\u2028", "nel": "\x85", "empty": "",'
            ' "int": 42, "bool": true }\n'),
        "ab": (
            '{ "k": "v\\/w", "n": 7 }\n'),
    },
    (False, True): {
        "all": (
            '{"v":{"slash":"/","quote":"\\"","bs":"\\\\","nl":"\\n",'
            '"cr":"\\r","ls":"\u2028","nel":"\x85","empty":"","int":42,'
            '"bool":true},"a":{"b":{"k":"v/w","n":7}}}\n'),
        "sub_v": (
            '{ "slash": "\\/", "quote": "\\"", "bs": "\\\\", "nl": "\\n",'
            ' "cr": "\\r", "ls": "\u2028", "nel": "\x85", "empty": "",'
            ' "int": 42, "bool": true }\n'),
        "sub_a": (
            '{ "b": { "k": "v\\/w", "n": 7 } }\n'),
        "loc": (
            '{"obj":{"k":"v/w","n":7},"rd":{"slash":"/","quote":"\\"",'
            '"bs":"\\\\","nl":"\\n","cr":"\\r","ls":"\u2028","nel":"\x85",'
            '"empty":"","int":42,"bool":true}}\n'),
        "rd": (
            '{ "slash": "\\/", "quote": "\\"", "bs": "\\\\", "nl": "\\n",'
            ' "cr": "\\r", "ls": "\u2028", "nel": "\x85", "empty": "",'
            ' "int": 42, "bool": true }\n'),
        "ab": (
            '{ "k": "v\\/w", "n": 7 }\n'),
    },
    (True, False): {
        "all": (
            '{ "p": "x\\/y\u2028", "s": "q", "v": { "bool": true, "bs": '
            '"\\\\", "cr": "\\r", "empty": "", "int": 42, "ls": "\u2028",'
            ' "nel": "\x85", "nl": "\\n", "quote": "\\"", "slash": "\\/" '
            '}, "a": { "b": { "k": "v\\/w", "n": 7 } } }\n{ "p": "x\\/y",'
            ' "q": [ 1, { "r": "\\n" } ], "v": { "slash": "\\/", "quote": '
            '"\\"", "bs": "\\\\", "nl": "\\n", "cr": "\\r", "ls": "\u2028",'
            ' "nel": "\x85", "empty": "", "int": 42, "bool": true },'
            ' "a": { "b": { "k": "v\\/w", "n": 7 } } }\n'),
        "sub_v": (
            '{ "bool": true, "bs": "\\\\", "cr": "\\r", "empty": "",'
            ' "int": 42, "ls": "\u2028", "nel": "\x85", "nl": "\\n",'
            ' "quote": "\\"", "slash": "\\/" }\n{ "slash": "\\/", "quote": '
            '"\\"", "bs": "\\\\", "nl": "\\n", "cr": "\\r", "ls": "\u2028",'
            ' "nel": "\x85", "empty": "", "int": 42, "bool": true }\n'),
        "sub_a": (
            '{ "b": { "k": "v\\/w", "n": 7 } }\n{ "b": { "k": "v\\/w",'
            ' "n": 7 } }\n'),
        "loc": (
            '{"obj":{"k":"v/w","n":7},"rd":{"bool":true,"bs":"\\\\",'
            '"cr":"\\r","empty":"","int":42,"ls":"\u2028","nel":"\x85",'
            '"nl":"\\n","quote":"\\"","slash":"/"}}\n{"obj":{"k":"v/w",'
            '"n":7},"rd":{"slash":"/","quote":"\\"","bs":"\\\\","nl":"\\n",'
            '"cr":"\\r","ls":"\u2028","nel":"\x85","empty":"","int":42,'
            '"bool":true}}\n'),
        "rd": (
            '{ "bool": true, "bs": "\\\\", "cr": "\\r", "empty": "",'
            ' "int": 42, "ls": "\u2028", "nel": "\x85", "nl": "\\n",'
            ' "quote": "\\"", "slash": "\\/" }\n{ "slash": "\\/", "quote": '
            '"\\"", "bs": "\\\\", "nl": "\\n", "cr": "\\r", "ls": "\u2028",'
            ' "nel": "\x85", "empty": "", "int": 42, "bool": true }\n'),
        "ab": (
            '{ "k": "v\\/w", "n": 7 }\n{ "k": "v\\/w", "n": 7 }\n'),
    },
    (True, True): {
        "all": (
            '{"p":"x/y\u2028","s":"q","v":{"bool":true,"bs":"\\\\","cr":"\\r",'
            '"empty":"","int":42,"ls":"\u2028","nel":"\x85","nl":"\\n",'
            '"quote":"\\"","slash":"/"},"a":{"b":{"k":"v/w","n":7}}}\n'
            '{"p":"x\\/y","q":[1,{"r":"\\n"}],"v":{"slash":"/","quote":"\\"",'
            '"bs":"\\\\","nl":"\\n","cr":"\\r","ls":"\u2028","nel":"\x85",'
            '"empty":"","int":42,"bool":true},"a":{"b":{"k":"v/w","n":7}}}\n'),
        "sub_v": (
            '{ "bool": true, "bs": "\\\\", "cr": "\\r", "empty": "",'
            ' "int": 42, "ls": "\u2028", "nel": "\x85", "nl": "\\n",'
            ' "quote": "\\"", "slash": "\\/" }\n{ "slash": "\\/", "quote": '
            '"\\"", "bs": "\\\\", "nl": "\\n", "cr": "\\r", "ls": "\u2028",'
            ' "nel": "\x85", "empty": "", "int": 42, "bool": true }\n'),
        "sub_a": (
            '{ "b": { "k": "v\\/w", "n": 7 } }\n{ "b": { "k": "v\\/w",'
            ' "n": 7 } }\n'),
        "loc": (
            '{"obj":{"k":"v/w","n":7},"rd":{"bool":true,"bs":"\\\\",'
            '"cr":"\\r","empty":"","int":42,"ls":"\u2028","nel":"\x85",'
            '"nl":"\\n","quote":"\\"","slash":"/"}}\n{"obj":{"k":"v/w",'
            '"n":7},"rd":{"slash":"/","quote":"\\"","bs":"\\\\","nl":"\\n",'
            '"cr":"\\r","ls":"\u2028","nel":"\x85","empty":"","int":42,'
            '"bool":true}}\n'),
        "rd": (
            '{ "bool": true, "bs": "\\\\", "cr": "\\r", "empty": "",'
            ' "int": 42, "ls": "\u2028", "nel": "\x85", "nl": "\\n",'
            ' "quote": "\\"", "slash": "\\/" }\n{ "slash": "\\/", "quote": '
            '"\\"", "bs": "\\\\", "nl": "\\n", "cr": "\\r", "ls": "\u2028",'
            ' "nel": "\x85", "empty": "", "int": 42, "bool": true }\n'),
        "ab": (
            '{ "k": "v\\/w", "n": 7 }\n{ "k": "v\\/w", "n": 7 }\n'),
    },
}


@pytest.mark.parametrize("parsed,compact", sorted(EXPECTED))
def test_hostile_leaf_values_render_byte_exact(spark, tmp_path, parsed,
                                               compact):
    src = tmp_path / "in.log"
    src.write_text(_JSON_MSGS if parsed else _PLAIN_MSG, encoding="utf-8")
    conf = (('global(compactJsonString="on")\n' if compact else "")
            + "".join(f'template(name="t_{k}" type="string" '
                      f'string="{v}\\n")\n'
                      for k, v in _HOSTILE_TEMPLATES.items())
            + 'ruleset(name="m") {\n'
            + ('  action(type="mmjsonparse")\n' if parsed else "")
            + _HOSTILE_BODY
            + "".join(f'  action(type="omfile" file="{tmp_path}/out_{k}" '
                      f'template="t_{k}")\n' for k in _HOSTILE_TEMPLATES)
            + "}\n"
            + f'input(type="imfile" file="{src}" ruleset="m")\n')
    run_config_batch(spark, conf)
    for k, want in EXPECTED[(parsed, compact)].items():
        d = tmp_path / f"out_{k}"
        # bytes, not text mode: universal newlines would fold the CR
        got = b"".join((d / p).read_bytes() for p in sorted(os.listdir(d))
                       if p.startswith("part")).decode("utf-8")
        # one line per message; compare lines order-free
        assert sorted(got.split("\n")) == sorted(want.split("\n")), k
