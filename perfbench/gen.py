"""Seeded input generator for the linkage benchmark, with ground-truth labels.

The benchmark owns this generator so that edits to the package's own test
generator never shift the benchmark's inputs. Every row is a pure function
of ``(seed, cluster, member)`` and the cluster's kind; the table is built
in the benchmark's own process and written to parquet before any timing
starts. The program under test sees only the input columns
``(record_id, repo, path, commit, lang, content)``; the labels stay with
the checker.

Planted structure, one entity cluster at a time:

* ``unique``  — a single file;
* ``exact``   — identical content under different (repo, path, commit);
* ``near``    — whitespace, comment and identifier edits of one base file;
* ``hardneg`` — same language and shape, different content (distinct labels);
* boilerplate — one of a few license texts copied into many repos, so exact
  blocking keys are hot. Boilerplate rows carry no label: like the
  package's own F1 fixtures, they are excluded from the pairwise metrics.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("python", "java", "c", "js", "go", "rust")
EXT = {"python": "py", "java": "java", "c": "c", "js": "js", "go": "go", "rust": "rs"}
WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega".split()
)
LICENSES = tuple(
    f"{head} Permission is hereby granted, free of charge, to any person "
    "obtaining a copy of this software and associated documentation files, "
    "to deal in the software without restriction."
    for head in ("MIT License.", "X11 License.", "Expat License.", "ISC License.")
)
MEMBERS = {"unique": 1, "exact": 3, "near": 3, "hardneg": 2}
BOILERPLATE_MEMBERS = 8
NO_LABEL = -1


@dataclass(frozen=True)
class GenParams:
    n_clusters: int
    #: (kind, weight) quotas of the non-boilerplate clusters
    kind_mix: tuple = (("unique", 55), ("exact", 15), ("near", 22), ("hardneg", 8))
    #: share of clusters that are boilerplate copies (hot exact keys)
    boilerplate_share: float = 0.005
    #: share of each kind's rows that arrive in the nightly delta
    delta_fraction: float = 0.05


def _rng(seed: int, *parts: int) -> random.Random:
    key = hashlib.blake2b("|".join(map(str, (seed, *parts))).encode(), digest_size=16)
    return random.Random(int.from_bytes(key.digest(), "little"))


def _ident(rng: random.Random) -> str:
    return f"{rng.choice(WORDS)}_{rng.choice(WORDS)}"


def _source(rng: random.Random, lang: str, tag: int) -> str:
    comment = "#" if lang == "python" else "//"
    lines = [f"{comment} module {_ident(rng)} ({lang})"]
    for _ in range(rng.randrange(2, 6)):
        name = _ident(rng)
        args = ", ".join(_ident(rng) for _ in range(rng.randrange(1, 4)))
        body = " + ".join(_ident(rng) for _ in range(rng.randrange(2, 6)))
        if lang == "python":
            lines += [f"def {name}({args}):", f"    return {body}", ""]
        else:
            lines += [f"function {name}({args}) {{", f"  return {body};", "}", ""]
    lines.append(f"const SEED_{tag} = {rng.randrange(10**9)}")
    return "\n".join(lines)


def _mutate(rng: random.Random, content: str) -> str:
    out = content
    for _ in range(rng.randrange(1, 4)):
        choice = rng.randrange(3)
        if choice == 0:  # whitespace churn
            out = out.replace("    ", "\t", 1) if "    " in out else out + "\n"
        elif choice == 1:  # comment insertion
            lines = out.split("\n")
            lines.insert(rng.randrange(1, len(lines)), f"# note {_ident(rng)}")
            out = "\n".join(lines)
        else:  # rename one identifier token
            present = [w for w in WORDS if w in out]
            if present:
                w = rng.choice(present)
                out = out.replace(w, w + "x")
    return out


def _kinds(seed: int, p: GenParams) -> list[str]:
    """Each cluster's kind: exact quotas in a seeded order, so the row count,
    the kind mix and the size of each hot boilerplate key do not vary with
    the seed. Boilerplate kinds name their license: ``boilerplate<k>``."""
    n_boiler = round(p.boilerplate_share * p.n_clusters)
    n_rest = p.n_clusters - n_boiler
    total = sum(w for _, w in p.kind_mix)
    kinds = [k for k, w in p.kind_mix for _ in range(round(w / total * n_rest))]
    kinds = (kinds + [p.kind_mix[0][0]] * n_rest)[:n_rest]
    kinds += [f"boilerplate{j % len(LICENSES)}" for j in range(n_boiler)]
    _rng(seed, -1).shuffle(kinds)
    return kinds


def _langs(seed: int, p: GenParams) -> list[str]:
    """Each cluster's language, by equal quotas in a seeded order: unrelated
    files of one language share its template, so the canopy's false
    candidates grow with the square of each language's file count."""
    langs = [LANGS[j % len(LANGS)] for j in range(p.n_clusters)]
    _rng(seed, -3).shuffle(langs)
    return langs


def _cluster_rows(seed: int, cluster: int, kind: str, lang: str) -> list[dict]:
    rng = _rng(seed, cluster, 0)
    org = int(rng.paretovariate(0.6)) % 500  # heavy-headed repo popularity
    boiler = kind.startswith("boilerplate")
    if boiler:
        base = LICENSES[int(kind.removeprefix("boilerplate"))]
        n = BOILERPLATE_MEMBERS
    else:
        base = _source(rng, lang, cluster)
        n = MEMBERS[kind]
    rows = []
    for member in range(n):
        mrng = _rng(seed, cluster, member + 1)
        label = NO_LABEL if boiler else cluster
        content = base
        if not boiler and member > 0 and kind == "near":
            content = _mutate(mrng, base)
        elif not boiler and member > 0 and kind == "hardneg":
            content = _source(_rng(seed, cluster, 100 + member), lang, cluster)
            label = cluster * 8 + member + 10**12  # its own entity
        rows.append(
            {
                "record_id": cluster * 8 + member,
                "repo": f"org{org % 40}/repo{(org * 7 + member) % 500}",
                "path": f"src/{_ident(mrng)}.{EXT[lang]}",
                "commit": hashlib.sha1(f"{seed}|{cluster}|{member}".encode()).hexdigest(),
                "lang": lang,
                "content": content,
                "label": label,
                "kind": kind,
            }
        )
    return rows


def generate(seed: int, p: GenParams) -> pd.DataFrame:
    """All rows with their labels and delta flags, in record_id order. The
    delta is a seeded sample of exactly ``delta_fraction`` of each kind's
    rows, so its size and mix do not vary with the seed either."""
    kinds, langs = _kinds(seed, p), _langs(seed, p)
    df = pd.DataFrame(
        [r for c in range(p.n_clusters) for r in _cluster_rows(seed, c, kinds[c], langs[c])]
    )
    rng = _rng(seed, -2)
    delta = [
        i
        for _, idx in sorted(df.groupby("kind").groups.items())
        for i in rng.sample(sorted(idx), round(p.delta_fraction * len(idx)))
    ]
    df["in_delta"] = df.index.isin(delta)
    return df


INPUT_COLUMNS = ["record_id", "repo", "path", "commit", "lang", "content"]


def write_parquet(pdf: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write the input columns as ``files`` parquet parts (a multi-file
    table, so the scan is split like a real one)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf[INPUT_COLUMNS], preserve_index=False)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
