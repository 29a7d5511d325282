"""The benchmark's workloads.

Each workload prepares its inputs (``prepare``: generated from the
seed, or the committed query tables), runs a fixed list of operations
through sparklog's public API (``run_op``), and checks every
operation's output afterwards (``verify``). The harness in ``run.py`` times the operations and reads the counters.
"""
from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import time

import gen

#: the sf0.01 test tables of TESTDATA.md (seed 42), committed unchanged
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "sf0.01")

#: a realistic rsyslog.conf: impstats, a 500-row lookup table, eight
#: ``set $!`` statements (lookup, re_extract, field), a ``cnum``
#: comparison, an ``if/else if`` branch, a ``%!%`` and two string
#: templates and three omfile actions
PIPELINE_CONF = """
module(load="impstats" log.file="{out}/stats.out" log.file.overwrite="on")
lookup_table(name="users" file="{table}")
template(name="tree" type="string" string="%!%\\n")
template(name="brief" type="string"
         string="%hostname% %$!dept% %$!act% %$!bytes% %$!seq%\\n")
template(name="bigfmt" type="string" string="%$!seq% %$!src% %$!dept%\\n")
ruleset(name="main") {{
  set $!seq = re_extract($msg, "seq=([0-9]+)", 0, 1, "0");
  set $!user = re_extract($msg, "user=([a-z0-9]+)", 0, 1, "none");
  set $!dept = lookup("users", $!user);
  set $!act = re_extract($msg, "action=([a-z]+)", 0, 1, "none");
  set $!bytes = field(re_extract($msg, "bytes=[0-9]+", 0, 0, "bytes=0"),
                      61, 2);
  set $!src = re_extract($msg, "src=([0-9.]+)", 0, 1, "");
  set $!sev = $syslogseverity-text;
  set $!octet = field($!src, 46, 2);
  set $.big = cnum($!bytes) > 50000;
  if $!act == "deny" then {{
    action(type="omfile" name="deny" file="{out}/deny" template="tree")
  }} else if $.big then {{
    action(type="omfile" name="big" file="{out}/big" template="bigfmt")
  }}
  action(type="omfile" name="all" file="{out}/all" template="brief")
}}
input(type="imfile" file="{inp}/*" ruleset="main")
"""

#: the analyst's path: eight registered queries, in this order
QUERY_MIX = ("flagship_parse_route", "rs_expr_battery", "lookup_battery",
             "dynstats_hourly", "supplier_part_volume",
             "lm_perplexity_filter", "semantic_dedup",
             "mmsnareparse_win_event")
#: tables each query reads, for rows-per-second
QUERY_TABLES = {
    "flagship_parse_route": ("events",),
    "rs_expr_battery": ("events",),
    "lookup_battery": ("customer", "nation", "region", "events"),
    "dynstats_hourly": ("events",),
    "supplier_part_volume": ("lineitem", "supplier", "part"),
    "lm_perplexity_filter": ("documents",),
    "semantic_dedup": ("embeddings",),
    "mmsnareparse_win_event": ("events",),
}


def _part_lines(path: str):
    for p in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(p, encoding="utf-8") as f:
            for line in f:
                yield line.rstrip("\n")


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class ConfigPipeline:
    """``PIPELINE_CONF`` run by ``run_config_batch`` over the seeded
    corpus: one cold run during set-up, then the measured warm runs,
    each into its own output directory."""

    name = "config_pipeline"
    n_lines = 5_000
    nominal_op_s = 8.0
    #: operations always run, and the size of an indivisible group
    min_ops = 3
    group = 1
    build_jobs = 0

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.n = max(100, int(self.n_lines * scale))
        self.corpus = None

    def prepare(self) -> None:
        self.corpus = gen.pipeline_corpus(os.path.join(self.work, "in"),
                                          self.n, self.seed)

    def n_ops(self, seconds: float) -> int:
        return max(self.min_ops, math.ceil(seconds / self.nominal_op_s))

    def out_dir(self, i: int | str) -> str:
        return os.path.join(self.work, "out", f"op{i}")

    def warm_up(self, spark) -> float:
        """One cold run; returns its wall."""
        t = time.perf_counter()
        self.run_op(spark, "cold", None)
        return time.perf_counter() - t

    def run_op(self, spark, i: int | str, tracer) -> None:
        from rsyslog_spark.config.runtime import run_config_batch

        shutil.rmtree(self.out_dir(i), ignore_errors=True)
        os.makedirs(self.out_dir(i))
        run_config_batch(spark, PIPELINE_CONF.format(
            out=self.out_dir(i), inp=self.corpus.input_dir,
            table=self.corpus.table))

    def verify(self, i: int) -> list[str]:
        """Every sink's line count and digest, and one impstats
        ``processed=`` line per action."""
        errs = []
        for sink, exp in self.corpus.expected.items():
            n, d = gen.digest(_part_lines(os.path.join(self.out_dir(i),
                                                       sink)))
            if n != exp.count:
                errs.append(f"op {i} sink {sink}: {n} lines, "
                            f"expected {exp.count}")
            elif d != exp.digest:
                errs.append(f"op {i} sink {sink}: content digest differs")
        stats = os.path.join(self.out_dir(i), "stats.out")
        try:
            with open(stats, encoding="utf-8") as f:
                text = f.read()
        except OSError as e:
            return errs + [f"op {i} impstats: {e}"]
        for sink, exp in self.corpus.expected.items():
            if f"{sink}: origin=core.action processed={exp.count} " \
                    not in text:
                errs.append(f"op {i} impstats: no processed={exp.count} "
                            f"line for action {sink}")
        return errs

    def corrupt(self, i: int) -> None:
        """Drop the first line of operation ``i``'s first sink file."""
        for path in sorted(glob.glob(os.path.join(self.out_dir(i), "*",
                                                  "part-*"))):
            with open(path, encoding="utf-8") as f:
                lines = f.readlines()
            if lines:
                with open(path, "w", encoding="utf-8") as f:
                    f.writelines(lines[1:])
                return

    @staticmethod
    def plan_frames(captured: list) -> tuple[list, bool]:
        """The frames the last operation wrote; their own
        QueryExecution never ran (the writer planned a command)."""
        last = max((it for it, _ in captured), default=None)
        return [df for it, df in captured if it == last], False

    def end_to_end(self, walls: list[float]) -> dict[str, float]:
        op = statistics.median(walls)
        return {"op_s": op, "msgs_per_s": self.n / op}


class QueryMix:
    """Eight registered queries, each built and collected once per pass
    by one client (a closed loop), compared with its DuckDB oracle. The
    tables are fixed, so the seed is recorded only and ``scale`` is
    ignored."""

    name = "query_mix"
    nominal_pass_s = 30.0
    min_ops = group = len(QUERY_MIX)

    def __init__(self, work: str, seed: int, scale: float):
        self.rows: dict[str, int] = {}
        self.results: dict[int, tuple[list, list]] = {}
        self.frames: dict[int, object] = {}
        self.build_jobs = 0
        self._con = None

    def prepare(self) -> None:
        """Row counts of the tables, from their parquet footers."""
        import pyarrow.parquet as pq

        self.rows = {
            t: pq.read_metadata(os.path.join(TABLES, f"{t}.parquet")).num_rows
            for ts in QUERY_TABLES.values() for t in ts}

    def n_ops(self, seconds: float) -> int:
        return len(QUERY_MIX) * max(1, round(seconds / self.nominal_pass_s))

    def warm_up(self, spark) -> float:
        """Nothing: the measured pass is each query's first run."""
        return 0.0

    def run_op(self, spark, i: int, tracer) -> None:
        import __spark_entry__ as entry

        from sparkstats import job_ids

        name = QUERY_MIX[i % len(QUERY_MIX)]
        before = job_ids(spark.sparkContext) if tracer.enabled else None
        with tracer.span("queries.build"):
            df = entry.queries()[name](spark, TABLES)
        if before is not None:
            t = time.perf_counter()
            self.build_jobs += len(job_ids(spark.sparkContext) - before)
            tracer.overhead_s += time.perf_counter() - t
        with tracer.span("exec.write"):
            rows = df.collect()
        self.results[i] = (df.columns, [tuple(r) for r in rows])
        self.frames[i] = df

    def verify(self, i: int) -> list[str]:
        # canonicalisation shared with the repository's correctness gate
        from tools.check_correctness import rows_key

        name = QUERY_MIX[i % len(QUERY_MIX)]
        cols, rows = self.results.pop(i)
        res = self._duck().execute(self._oracles()[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return [f"op {i} {name}: columns {sorted(cols)} != oracle "
                    f"{sorted(ocols)}"]
        if len(rows) != len(orows):
            return [f"op {i} {name}: {len(rows)} rows != oracle "
                    f"{len(orows)}"]
        if rows_key(rows, cols) != rows_key(orows, ocols):
            return [f"op {i} {name}: values differ from the oracle"]
        return []

    def corrupt(self, i: int) -> None:
        """Add a second copy of operation ``i``'s last result row."""
        cols, rows = self.results[i]
        self.results[i] = (cols, rows + (rows[-1:] or [(None,)]))

    def plan_frames(self, _captured: list) -> tuple[list, bool]:
        """Every query's frame; collect ran their own QueryExecution."""
        return list(self.frames.values()), True

    def _oracles(self) -> dict[str, str]:
        import __spark_entry__ as entry

        return entry.oracle_sql()

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.rows:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{TABLES}/{t}.parquet'")
        return self._con

    def end_to_end(self, walls: list[float]) -> dict[str, float]:
        k = len(QUERY_MIX)
        passes = [sum(walls[p:p + k]) for p in range(0, len(walls), k)]
        per_query = [statistics.median(walls[j::k]) for j in range(k)]
        src_rows = sum(self.rows[t] for q in QUERY_MIX
                       for t in QUERY_TABLES[q])
        return {"op_s": geomean(per_query),
                "msgs_per_s": src_rows / statistics.median(passes),
                "cold_s": passes[0]}


WORKLOADS = {w.name: w for w in (ConfigPipeline, QueryMix)}
