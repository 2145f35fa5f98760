"""Seeded repo-file table for the benchmark, built with pyarrow alone.

The program under test never touches this module: a change to
``medea_spark`` cannot change the input a seed produces.  Every row is
made from a document template whose verdict is known by construction
(a valid document, or a valid document with exactly one defect, so the
first-error-wins kernel reports exactly that defect's constraint).  The
ground truth is kept next to the table for the oracles.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ID = "@ID@"  # placeholder spliced with a per-row id (unique content)
GIANT_REPO = "mono/giant"
N_REPOS = 400
N_FILES = 16

# The traffic mix.  Where the repository documents a figure, the share
# is taken from it: FIXTURES.md section 1 and the defaults of
# ``medea_spark.corpus.generate_corpus`` (read here, never imported).
GIANT_SHARE = 0.35  # giant_share_pct=35; FIXTURES.md asks for >= 30%
DUP_KEY_SHARE = 1 / 101  # dup_every=101
ORPHAN_EVERY = 17  # orphan_every=17: repo ordinals withheld from the repo dimension
# Lopes et al., "DejaVu: a map of code duplicates on GitHub" (OOPSLA
# 2017): of 428M files in 4.5M non-fork projects only 85M are unique;
# "70% of the code on GitHub consists of clones of previously created
# files".  Used as the share of rows with vendored (repeated) content.
GITHUB_CLONE_SHARE = 0.7
# Assumptions, no measured source: small injected rates that give each
# table check something to find (FIXTURES.md: "a small rate").
NULL_SHARE = 0.001
BAD_PATH_SHARE = 0.003
RARE_LANG_SHARE = 0.005

_BASE_LANG_P = (0.60, 0.20, 0.10, 0.06, 0.04)  # generator _BASE_LANG_CUM
_DRIFT_LANG_P = (0.35, 0.30, 0.15, 0.12, 0.08)  # generator _DRIFT_LANG_CUM
LANGS = ("json", "yaml", "toml", "xml", "cfg", "cobol")  # the last is the rare one
LANG_P = tuple(p * (1 - RARE_LANG_SHARE) for p in _BASE_LANG_P) + (RARE_LANG_SHARE,)
BASELINE_LANG_P = tuple(p * (1 - RARE_LANG_SHARE) for p in _DRIFT_LANG_P) + (RARE_LANG_SHARE,)
ACCEPTED_LANGS = LANGS[:-1]
PATH_REGEX = r"^[a-z0-9_./-]+$"
SIZE_RANGE = (256, 2400)
NOT_JSON = "NOT_JSON"

_KINDS = ("config", "data", "log")


def _valid_doc(rng: random.Random) -> dict:
    """A valid document of about 1.5 KB (a realistic source-file size)."""
    meta: dict = {"version": rng.randrange(100)}
    node = meta
    for _ in range(rng.randrange(0, 5)):
        node["parent"] = {"version": rng.randrange(100), "note": f"n{rng.randrange(999)}"}
        node = node["parent"]
    for j in range(rng.randrange(14, 50)):
        meta[f"x{j}"] = f"v{rng.randrange(10**6)}-" + "pad" * rng.randrange(12)
    doc = {
        "name": ID,
        "kind": rng.choice(_KINDS),
        "size": rng.choice([rng.randrange(10**6), round(rng.random() * 1e3, 3)]),
        "tags": [f"t{rng.randrange(50)}" for _ in range(rng.randrange(9))],
        "meta": meta,
    }
    if rng.random() < 0.3:
        doc["span"] = [rng.randrange(100), rng.randrange(100)]
    return doc


def _defective_docs(rng: random.Random) -> list[tuple[str, str]]:
    """One (content, constraint) per defect class; each document has a
    single defect, so its first and only violation is known."""
    base = _valid_doc(rng)

    def with_(**changes) -> str:
        d = dict(base)
        d.update(changes)
        return json.dumps(d)

    no_name = dict(base)
    del no_name["name"]
    no_name["meta"] = dict(base["meta"], id=ID)  # keeps the row id
    return [
        (with_(size="not-a-number"), "NOT_ONE_OF_OPTIONS"),
        (json.dumps(no_name), "REQUIRED_PROPERTY_IS_MISSING"),
        (with_(unexpected=1), "ADDITIONAL_PROP_FOUND_BUT_BANNED"),
        (with_(kind="mystery"), "NOT_ONE_OF_OPTIONS"),
        (with_(tags=[f"t{i}" for i in range(9)]), "OUT_OF_BOUNDS_ARRAY_LENGTH"),
        (with_(tags=["ok", 7]), "NOT_ONE_OF_OPTIONS"),
        (with_(meta={"version": "one", "id": "x"}), "NOT_ONE_OF_OPTIONS"),
        (with_(span=[1, 2, 3]), "OUT_OF_BOUNDS_ARRAY_LENGTH"),
        (with_(span=[1, "two"]), "NOT_ONE_OF_OPTIONS"),
        (json.dumps(base)[:-1], NOT_JSON),  # truncated
    ]


def _templates(rng: random.Random, n_valid: int, n_defect_rounds: int):
    out: list[tuple[str, bool, str | None]] = []
    for _ in range(n_valid):
        out.append((json.dumps(_valid_doc(rng)), True, None))
    for _ in range(n_defect_rounds):
        out.extend((c, False, k) for c, k in _defective_docs(rng))
    return out


def size_bucket(size: int) -> int:
    """floor(log2(size)), -1 for size <= 0 (the drift histogram's bucket)."""
    return size.bit_length() - 1 if size > 0 else -1


@dataclass
class Inputs:
    input_dir: str
    repos_dir: str
    baseline_dir: str
    n_rows: int
    table_bytes: int
    truth: pa.Table  # repo, path, commit, lang, size, expected_valid, expected_constraint
    sample: list[str]  # seeded sample of well-formed documents (kernel microbench)


def make_inputs(seed: int, n_rows: int, vendored_share: float, out_dir: str) -> Inputs:
    """Write the input table, the repo dimension and the baseline
    histogram under ``out_dir``; deterministic in ``(seed, n_rows,
    vendored_share)``."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    templates = _templates(rng, n_valid=400, n_defect_rounds=8)
    vendored = [
        (c.replace(ID, f"vendored-{k}"), v, e)
        for k, (c, v, e) in enumerate(_templates(rng, n_valid=32, n_defect_rounds=1))
    ]

    tpl_idx = nrng.integers(0, len(templates), n_rows)
    ven_idx = nrng.integers(0, len(vendored), n_rows)
    is_vendored = nrng.random(n_rows) < vendored_share
    is_null = nrng.random(n_rows) < NULL_SHARE
    is_giant = nrng.random(n_rows) < GIANT_SHARE
    repo_ord = nrng.integers(0, N_REPOS, n_rows)
    bad_path = nrng.random(n_rows) < BAD_PATH_SHARE
    commit_h = nrng.integers(0, 2**62, n_rows)
    lang_idx = nrng.choice(len(LANGS), n_rows, p=LANG_P)
    base_lang_idx = nrng.choice(len(LANGS), n_rows, p=BASELINE_LANG_P)
    dup_of = np.where(
        nrng.random(n_rows) < DUP_KEY_SHARE, nrng.integers(0, max(n_rows, 1), n_rows), -1
    )
    # plain lists: per-element numpy scalar access dominates the row loop
    tpl_idx, ven_idx, is_vendored, is_null, is_giant, repo_ord, bad_path, commit_h, dup_of = (
        a.tolist()
        for a in (tpl_idx, ven_idx, is_vendored, is_null, is_giant, repo_ord, bad_path, commit_h, dup_of)
    )

    repo, path, commit, content, size = [], [], [], [], []
    valid, constraint = [], []
    for i in range(n_rows):
        k = dup_of[i] if 0 <= dup_of[i] < i else i  # earlier row's key
        repo.append(GIANT_REPO if is_giant[k] else f"org{repo_ord[k] % 37}/repo{repo_ord[k]:04d}")
        path.append(f"{'Src' if bad_path[k] else 'src'}/m{k % 97}/f{k}.json")
        commit.append(f"{commit_h[k]:016x}")
        if is_null[i]:
            content.append(None)
            size.append(0)
            valid.append(False)
            constraint.append(NOT_JSON)
            continue
        if is_vendored[i]:
            c, v, e = vendored[ven_idx[i]]
        else:
            c, v, e = templates[tpl_idx[i]]
            c = c.replace(ID, f"s{seed}r{i}")
        if len(c) & (len(c) - 1) == 0:
            c += " "  # keep floor(log2(size)) clear of float rounding
        content.append(c)
        size.append(len(c))
        valid.append(v)
        constraint.append(e)

    lang = [LANGS[j] for j in lang_idx]
    table = pa.table(
        {
            "repo": pa.array(repo, pa.string()),
            "path": pa.array(path, pa.string()),
            "commit": pa.array(commit, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "size": pa.array(size, pa.int64()),
            "content": pa.array(content, pa.string()),
        }
    )
    input_dir = os.path.join(out_dir, "input")
    os.makedirs(input_dir)
    step = -(-n_rows // N_FILES)
    for f, lo in enumerate(range(0, n_rows, step)):
        pq.write_table(table.slice(lo, step), os.path.join(input_dir, f"part-{f:03d}.parquet"))
    table_bytes = sum(
        os.path.getsize(os.path.join(input_dir, n)) for n in os.listdir(input_dir)
    )

    repos = sorted(
        {r for r in repo if r == GIANT_REPO or int(r[-4:]) % ORPHAN_EVERY != 0}
    )
    repos_dir = os.path.join(out_dir, "repos")
    os.makedirs(repos_dir)
    pq.write_table(pa.table({"repo": repos}), os.path.join(repos_dir, "repos.parquet"))

    hist: dict[tuple[str, int], int] = {}
    for j, s in zip(base_lang_idx, size):
        key = (LANGS[j], size_bucket(s))
        hist[key] = hist.get(key, 0) + 1
    baseline_dir = os.path.join(out_dir, "baseline")
    os.makedirs(baseline_dir)
    keys = sorted(hist)
    pq.write_table(
        pa.table(
            {
                "lang": pa.array([k[0] for k in keys], pa.string()),
                "size_bucket": pa.array([k[1] for k in keys], pa.int32()),
                "cnt": pa.array([hist[k] for k in keys], pa.int64()),
            }
        ),
        os.path.join(baseline_dir, "baseline.parquet"),
    )

    truth = table.drop_columns(["content"]).append_column(
        "expected_valid", pa.array(valid, pa.bool_())
    ).append_column("expected_constraint", pa.array(constraint, pa.string()))
    order = random.Random(seed + 1).sample(range(n_rows), min(n_rows, 4000))
    sample = [content[i] for i in order if constraint[i] != NOT_JSON][:2000]
    return Inputs(
        input_dir=input_dir,
        repos_dir=repos_dir,
        baseline_dir=baseline_dir,
        n_rows=n_rows,
        table_bytes=table_bytes,
        truth=truth,
        sample=sample,
    )
