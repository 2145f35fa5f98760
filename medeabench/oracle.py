"""Expected results for every op, from the generator's ground truth
plus DuckDB.  Nothing here imports ``medea_spark``: the program under
test cannot move its own oracle.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pyarrow as pa

import inputs as gen

CKPT_PARTITIONS = 4  # run_validation_with_checkpoints: partitions, in waves
CKPT_WAVES = 2
SKEW_FRACTION = 0.05
STATS_COLS = ["repo", "path", "commit", "lang", "size"]
KEY_COLS = ["repo", "path", "commit"]

_M = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 as a signed 64-bit int: Spark's ``xxhash64`` of a string
    column (seed 42), re-derived from the published algorithm."""
    n, i = len(data), 0
    word = lambda j, w: int.from_bytes(data[j : j + w], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[k], word(i + 8 * k, 8)) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((word(i, 4) * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def part_of(repo: str, n: int) -> int:
    """``pmod(xxhash64(repo), n)`` — the engine's repo-hash part id."""
    return xxh64(repo.encode("utf-8")) % n


class Expected:
    """Per-workload expected results, computed once per run (untimed)."""

    def __init__(self, inp: gen.Inputs) -> None:
        self.con = duckdb.connect(config={"threads": 2})  # checks run between ops; keep them light
        self.con.register("truth", inp.truth)
        self.con.sql(f"create view t as select * from read_parquet('{inp.input_dir}/*.parquet')")
        self.con.sql(f"create view dim as select * from read_parquet('{inp.repos_dir}/*.parquet')")
        self.con.sql(f"create view baseline as select * from read_parquet('{inp.baseline_dir}/*.parquet')")
        self.repos = [r for (r,) in self.q("select distinct repo from truth")]

    def q(self, sql: str) -> list[tuple]:
        return self.con.sql(sql).fetchall()

    # -- kernel verdicts ------------------------------------------------
    def repo_parts(self, n: int) -> str:
        """Register and name the table repo -> part id for ``n`` parts."""
        name = f"repo_part_{n}"
        parts = [part_of(r, n) for r in self.repos]
        self.con.register(name, pa.table({"repo": self.repos, "part": parts}))
        return name

    def per_part(self, n: int) -> dict[int, tuple[int, int, int, int]]:
        """part -> (rows, valid, invalid, violations) over ``n`` parts;
        one violation per invalid row (first-error-wins)."""
        rows = self.q(
            f"""select p.part, count(*), sum(expected_valid::int),
                       sum((not expected_valid)::int), sum((not expected_valid)::int)
                from truth join {self.repo_parts(n)} p using (repo) group by 1"""
        )
        return {r[0]: tuple(int(x) for x in r[1:]) for r in rows}

    def census(self) -> dict[str, int]:
        return dict(
            self.q("select expected_constraint, count(*) from truth where not expected_valid group by 1")
        )

    def skewed_keys(self) -> list[str]:
        return [
            r
            for (r,) in self.q(
                f"""select repo from truth group by repo
                    having count(*) >= greatest(1, floor((select count(*) from truth) * {SKEW_FRACTION}))
                    order by count(*) desc, repo"""
            )
        ]

    # -- table checks -----------------------------------------------------
    def column_stats(self) -> dict[str, tuple]:
        out = {}
        for c in STATS_COLS:
            n, nulls, lo, hi, d = self.q(
                f"""select count(*), count(*) - count("{c}"), min("{c}")::varchar,
                           max("{c}")::varchar, count(distinct "{c}") from t"""
            )[0]
            out[c] = (n, nulls, round(nulls / max(n, 1), 6), lo, hi, d)
        return out

    def uniqueness(self) -> tuple[int, int, int, int]:
        keys = ", ".join(KEY_COLS)
        total, distinct = self.q(
            f"select count(*), (select count(*) from (select distinct {keys} from t)) from t"
        )[0]
        dup_keys, surplus = self.q(
            f"""select count(*), coalesce(sum(c - 1), 0) from
                (select count(*) c from t group by {keys} having count(*) > 1)"""
        )[0]
        return total, distinct, dup_keys, int(surplus)

    def orphans(self) -> list[tuple[str, int]]:
        return self.q(
            """select repo, count(*) from t where repo not in (select repo from dim)
               group by repo order by 2 desc, 1"""
        )

    def drift(self) -> tuple[float, int, int, int]:
        """Pearson chi-square of the current (lang, size bucket)
        histogram against the baseline; a cell empty in the baseline
        gets expected count 0.5."""
        cur = Counter(
            (lang, gen.size_bucket(size))
            for lang, size in self.q("select lang, size from t")
        )
        base = {(lang, b): c for lang, b, c in self.q("select lang, size_bucket, cnt from baseline")}
        n_cur, n_base = sum(cur.values()), sum(base.values())
        stat = 0.0
        for cell in set(cur) | set(base):
            o, b = cur.get(cell, 0), base.get(cell, 0)
            e = b * n_cur / n_base if b > 0 else 0.5
            stat += (o - e) ** 2 / e
        return stat, len(set(cur) | set(base)) - 1, n_cur, n_base

    def suite(self) -> dict[str, int]:
        lo, hi = gen.SIZE_RANGE
        accepted = ", ".join(f"'{v}'" for v in gen.ACCEPTED_LANGS)
        keys = ", ".join(KEY_COLS)
        r = self.q(
            f"""select count(*) - count(content),
                       count(*) filter (where size < {lo} or size > {hi}),
                       count(*) filter (where not regexp_matches(path, '{gen.PATH_REGEX}')),
                       count(*) filter (where lang not in ({accepted})),
                       count(*) - (select count(*) from (select distinct {keys} from t)),
                       count(*)
                from t"""
        )[0]
        names = ["not_null", "in_range", "matches", "accepted_values", "unique", "min_rows"]
        return dict(zip(names, (int(x) for x in r)))


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
