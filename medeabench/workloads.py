"""The three workloads: one op each, its output check, and its
per-layer extras.

An op calls the program only through its public functions, re-reads
the input, and writes to fresh directories under a fresh ``run_id``.
A check compares the op's outputs with ``oracle.Expected`` and returns
a list of problems (empty when the output is right); it runs untimed.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow.parquet as pq

import inputs as gen
import oracle
from oracle import CKPT_PARTITIONS, CKPT_WAVES, KEY_COLS, STATS_COLS, SKEW_FRACTION


@dataclass
class Ctx:
    spark: Any
    graph: Any
    inp: gen.Inputs
    exp: oracle.Expected
    expected: dict  # this workload's expected results
    work: str
    tracer: Any
    op_no: int = 0

    def op_dir(self, name: str) -> str:
        return os.path.join(self.work, "ops", f"op{self.op_no:03d}", name)


@dataclass(frozen=True)
class Workload:
    rows: int
    vendored_share: float
    expect: Callable[[oracle.Expected], dict]
    op: Callable[[Ctx], Any]
    check: Callable[[Any, Ctx], list[str]]
    layers: Callable[[Any, Ctx], dict] = lambda out, ctx: {}


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


# -- census: validate_table, summary + violation census to the driver ------


def census_expect(exp: oracle.Expected) -> dict:
    return {"census": exp.census()}


def census_op(ctx: Ctx):
    from medea_spark.engine import read_repo_files, validate_table

    with ctx.tracer.span("engine.validate_table"):
        run = validate_table(read_repo_files(ctx.spark, ctx.inp.input_dir), ctx.graph)
        summary = run.summary.collect()
        census = run.violations.groupBy("failed_constraint").count().collect()
    return summary, census


def census_check(out, ctx: Ctx) -> list[str]:
    summary, census = out
    if "per_part" not in ctx.expected:  # validate_table's part count is the session's
        n = int(ctx.spark.conf.get("spark.sql.shuffle.partitions"))
        ctx.expected["per_part"] = ctx.exp.per_part(n)
    got = {
        r["part_id"]: (r["rows"], r["valid_rows"], r["invalid_rows"], r["violation_count"])
        for r in summary
    }
    salts = {r["salt_buckets_seen"] for r in summary}
    return (
        _diff("per-part summary", got, ctx.expected["per_part"])
        + _diff("salt buckets", salts, {1})
        + _diff("violation census", {r[0]: r[1] for r in census}, ctx.expected["census"])
    )


# -- nightly: skew detection + checkpointed waves, as jobs/validate_job.py --


def nightly_expect(exp: oracle.Expected) -> dict:
    per_part = exp.per_part(CKPT_PARTITIONS)
    return {
        "skewed": exp.skewed_keys(),
        "per_part": {p: per_part.get(p, (0, 0, 0, 0)) for p in range(CKPT_PARTITIONS)},
    }


def nightly_op(ctx: Ctx):
    from medea_spark.checkpoint import CheckpointStore, run_validation_with_checkpoints
    from medea_spark.engine import detect_skewed_keys, read_repo_files

    run_id = f"bench-op{ctx.op_no}"
    out_dir, ckpt_dir = ctx.op_dir("out"), ctx.op_dir("ckpt")
    df = read_repo_files(ctx.spark, ctx.inp.input_dir)
    with ctx.tracer.span("engine.detect_skewed_keys"):
        skewed = detect_skewed_keys(df, "repo", skew_fraction=SKEW_FRACTION)
    store = CheckpointStore(ctx.spark, ckpt_dir)
    with ctx.tracer.span("checkpoint.run_validation_with_checkpoints"):
        result = run_validation_with_checkpoints(
            ctx.spark,
            df,
            ctx.graph,
            store,
            run_id=run_id,
            skewed_keys=skewed,
            num_partitions=CKPT_PARTITIONS,
            n_waves=CKPT_WAVES,
            input_fingerprint=ctx.inp.input_dir,
            output_location=out_dir,
        )
    return skewed, result, run_id, out_dir, ckpt_dir


def _checkpoint_rows(ckpt_dir: str, run_id: str) -> list[dict]:
    rows = pq.read_table(os.path.join(ckpt_dir, "checkpoints")).to_pylist()
    return [r for r in rows if r["run_id"] == run_id]


def nightly_check(out, ctx: Ctx) -> list[str]:
    skewed, result, run_id, out_dir, ckpt_dir = out
    problems = _diff("skewed keys", skewed, ctx.expected["skewed"])
    problems += _diff(
        "result",
        (result.run_id, result.waves_run, result.parts_done, result.parts_skipped),
        (run_id, CKPT_WAVES, CKPT_PARTITIONS, 0),
    )
    ckpt = _checkpoint_rows(ckpt_dir, run_id)
    problems += _diff(
        "checkpoint rows",
        {
            r["part_id"]: (r["rows"], r["valid_rows"], r["invalid_rows"], r["violation_count"])
            for r in ckpt
        },
        ctx.expected["per_part"],
    )
    problems += _diff("checkpoint row count", len(ckpt), CKPT_PARTITIONS)
    problems += _diff(
        "checkpoint status/wave",
        sorted({(r["status"], r["wave"] == r["part_id"] % CKPT_WAVES) for r in ckpt}),
        [("done", True)],
    )
    base = os.path.join(out_dir, f"run={run_id}")
    validated = f"read_parquet('{base}/wave=*/validated/*.parquet', hive_partitioning=false)"
    violations = f"read_parquet('{base}/wave=*/violations/*.parquet', hive_partitioning=false)"
    (bad_rows,) = ctx.exp.q(
        f"""with o as (select repo, path, commit, size, is_valid, n_violations from {validated}),
                 e as (select repo, path, commit, size, expected_valid,
                              (not expected_valid)::int from truth)
            select (select count(*) from (from o except all from e))
                 + (select count(*) from (from e except all from o))"""
    )[0]
    problems += _diff("validated rows not matching ground truth", bad_rows, 0)
    (bad_sha, bad_part) = ctx.exp.q(
        f"""select count(*) filter (where content_sha256 is distinct from sha256(content)),
                   count(*) filter (where part_id != p.part)
            from {validated} join repo_part_{CKPT_PARTITIONS} p using (repo)"""
    )[0]
    problems += _diff("content_sha256 mismatches", bad_sha, 0)
    problems += _diff("part_id mismatches", bad_part, 0)
    (bad_viol,) = ctx.exp.q(
        f"""with o as (select repo, path, commit, failed_constraint from {violations}),
                 e as (select repo, path, commit, expected_constraint from truth
                       where not expected_valid)
            select (select count(*) from (from o except all from e))
                 + (select count(*) from (from e except all from o))"""
    )[0]
    problems += _diff("violation rows not matching ground truth", bad_viol, 0)
    return problems


def _tree_bytes(path: str, data_only: bool = False) -> int:
    """Bytes of the files under ``path``; ``data_only`` skips the local
    filesystem's hidden checksum files, which tasks do not count."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not (data_only and f.startswith(".")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def nightly_layers(out, ctx: Ctx) -> dict:
    """Wave timings from the program's own checkpoint rows, and the
    bytes the op left on disk (the status store's output bytes are
    reconciled against the executor-written part of them)."""
    _, _, run_id, out_dir, ckpt_dir = out
    ckpt = _checkpoint_rows(ckpt_dir, run_id)
    wave_s = {r["wave"]: r["wall_ms"] / 1e3 for r in ckpt}
    first_wave_start = min(
        r["committed_at"].timestamp() - r["wall_ms"] / 1e3 for r in ckpt
    )
    run_span = [
        s for s in ctx.tracer.spans
        if s.name == "checkpoint.run_validation_with_checkpoints" and s.op == ctx.op_no
    ][0]
    return {
        "checkpoint.waves": len(wave_s),
        "checkpoint.wave_s_p50": statistics.median(wave_s.values()),
        "checkpoint.wave_s_max": max(wave_s.values()),
        "checkpoint.done_lookup_s": first_wave_start - run_span.start,
        "checkpoint.write_bytes_per_file": (_tree_bytes(out_dir) + _tree_bytes(ckpt_dir))
        / ctx.inp.n_rows,
        "fs_executor_bytes": _tree_bytes(out_dir, data_only=True),
    }


# -- table-checks: five table-level checks, no Python UDF -------------------


def _rules(n_rows: int):
    from medea_spark.checks import (
        accepted_values,
        in_range,
        matches,
        min_rows,
        not_null,
        unique,
    )

    lo, hi = gen.SIZE_RANGE
    return [
        not_null("content"),
        in_range("size", lo, hi),
        matches("path", gen.PATH_REGEX),
        accepted_values("lang", list(gen.ACCEPTED_LANGS)),
        unique(KEY_COLS),
        min_rows(n_rows),
    ]


def checks_expect(exp: oracle.Expected) -> dict:
    return {
        "stats": exp.column_stats(),
        "uniqueness": exp.uniqueness(),
        "orphans": exp.orphans(),
        "drift": exp.drift(),
        "suite": exp.suite(),
    }


def checks_op(ctx: Ctx):
    from medea_spark.checks import (
        column_stats,
        drift_decision,
        lang_size_histogram,
        referential_report,
        run_check_suite,
        uniqueness_report,
    )
    from medea_spark.engine import read_repo_files

    spark, t = ctx.spark, ctx.tracer
    df = read_repo_files(spark, ctx.inp.input_dir)
    with t.span("checks.column_stats"):
        stats = column_stats(df, STATS_COLS).collect()
    with t.span("checks.uniqueness_report"):
        uniq = uniqueness_report(df, KEY_COLS, salted=True).collect()
    with t.span("checks.referential_report"):
        dim = read_repo_files(spark, ctx.inp.repos_dir)
        orphans = referential_report(df, dim, "repo").collect()
    with t.span("checks.drift_decision"):
        baseline = read_repo_files(spark, ctx.inp.baseline_dir)
        drift = drift_decision(
            lang_size_histogram(df, "lang", "size"), baseline, on=["lang", "size_bucket"]
        )
    with t.span("checks.run_check_suite"):
        suite = run_check_suite(df, _rules(ctx.inp.n_rows)).collect()
    return stats, uniq, orphans, drift, suite


def _chi2_sf_approx(x: float, k: int) -> float:
    """Wilson-Hilferty approximation of the chi-square survival function."""
    z = ((x / k) ** (1 / 3) - (1 - 2 / (9 * k))) / math.sqrt(2 / (9 * k))
    return 0.5 * math.erfc(z / math.sqrt(2))


def checks_check(out, ctx: Ctx) -> list[str]:
    stats, uniq, orphans, drift, suite = out
    want = ctx.expected
    got_stats = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["null_rate"], r["min_value"], r["max_value"])
        for r in stats
    }
    problems = _diff("column_stats", got_stats, {c: v[:5] for c, v in want["stats"].items()})
    for r in stats:  # HyperLogLog++ estimate, relative standard deviation 0.05
        exact = want["stats"][r["col_name"]][5]
        if abs(r["distinct_count"] - exact) > 0.2 * exact:
            problems.append(f"distinct {r['col_name']}: got {r['distinct_count']}, exact {exact}")
    u = uniq[0]
    problems += _diff(
        "uniqueness_report",
        (u["total_rows"], u["distinct_keys"], u["duplicate_keys"], u["surplus_rows"]),
        want["uniqueness"],
    )
    problems += _diff("referential_report", [tuple(r) for r in orphans], want["orphans"])
    stat, dof, n_cur, n_base = want["drift"]
    if not oracle.close(drift["statistic"], stat):
        problems.append(f"drift statistic: got {drift['statistic']!r}, want {stat!r}")
    problems += _diff(
        "drift counts", (drift["dof"], drift["n_current"], drift["n_baseline"]), (dof, n_cur, n_base)
    )
    sf = _chi2_sf_approx(stat, dof)
    if sf < 1e-4 or sf > 0.1:  # decide only far from the alpha=0.01 boundary
        problems += _diff("drifted", drift["drifted"], sf < 0.01)
    got_suite = {r["kind"]: r["metric"] for r in suite}
    problems += _diff("check suite metrics", got_suite, want["suite"])
    want_pass = {
        k: (m >= ctx.inp.n_rows if k == "min_rows" else m == 0) for k, m in want["suite"].items()
    }
    problems += _diff("check suite verdicts", {r["kind"]: r["passed"] for r in suite}, want_pass)
    return problems


WORKLOADS = {
    "nightly": Workload(
        rows=5_000, vendored_share=gen.GITHUB_CLONE_SHARE, expect=nightly_expect, op=nightly_op,
        check=nightly_check, layers=nightly_layers,
    ),
    "table-checks": Workload(
        rows=10_000, vendored_share=0.0, expect=checks_expect, op=checks_op, check=checks_check,
    ),
    "census": Workload(
        rows=40_000, vendored_share=0.0, expect=census_expect, op=census_op, check=census_check,
    ),
}
