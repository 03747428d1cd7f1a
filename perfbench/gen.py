"""Seeded input generator for the benchmark's workloads.

Every table is a pure function of ``(seed, table name)``: the same seed
writes byte-identical files, so a directory that already holds a complete
manifest for the seed is reused instead of regenerated. Generation is never
timed. Each table comes with an attributes side-file in the reference's
format (``name:string:v1,v2`` / ``name:numeric`` / ``label:c1,c2``), which
is the schema the benchmark hands to the engine.

Tables (sizes are the module constants below):

- ``narrow``: the reference's own TSV + attributes pair. Four numerics, one
  of them (``n_id``) near-all-distinct, one three-valued categorical and
  three classes whose label depends on several attributes plus 20% label
  noise, so nodes stay impure down to depth 8.
- ``wide``: parquet shaped like ``operators.training.wide_training``: one
  600-valued categorical that decides one of five classes up to 30% noise,
  and four noise numerics with 10k distinct values each, so the depth-1
  frontier is 600 nodes and its contingency bound, 600 nodes x 5 classes x
  (1 + 600 + 4 x 257 edges) = 4.9M rows, exceeds the driver-stats limit
  of 4M.
- ``fractional``: a narrow parquet table with about 5% nulls in one
  numeric and in the categorical.
- ``score``: a tall parquet dataset of several files to score, and
  ``score_train``, a smaller sample of the same distribution that the
  benchmark trains the scoring model on (outside every timed region).
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when any table's construction changes, so stale caches regenerate
GEN_VERSION = 8

NARROW_ROWS = 12_000
WIDE_ROWS = 32_000
WIDE_GROUPS = 600
WIDE_NUMERICS = 4
WIDE_CLASSES = tuple(f"w{i}" for i in range(5))
FRACTIONAL_ROWS = 200_000
FRACTIONAL_NULL_SHARE = 0.05
SCORE_ROWS = 3_000_000
SCORE_PARTS = 16
SCORE_TRAIN_ROWS = 40_000

NARROW_CATS = ("x0", "x1", "x2")
CLASSES3 = ("k0", "k1", "k2")
SCORE_CATS = ("s0", "s1")


def _rng(seed: int, table: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _attributes(cats: dict[str, tuple], nums: list[str], label: str,
                classes: tuple) -> str:
    lines = [f"{c}:string:{','.join(dom)}" for c, dom in cats.items()]
    lines += [f"{n}:numeric" for n in nums]
    lines.append(f"{label}:{','.join(classes)}")
    return "\n".join(lines) + "\n"


def _three_class(rng, score: np.ndarray, noise: float) -> np.ndarray:
    """Cut a score into three classes at its terciles, then replace a
    ``noise`` share of labels with a uniformly drawn class."""
    cuts = np.quantile(score, [1 / 3, 2 / 3])
    cls = np.digitize(score, cuts)
    flip = rng.random(len(score)) < noise
    cls[flip] = rng.integers(0, 3, int(flip.sum()))
    return np.asarray(CLASSES3)[cls]


def _narrow_columns(rng, n: int) -> dict[str, np.ndarray]:
    n_id = np.round(rng.random(n) * 1000.0, 4)
    n_a = rng.integers(0, 100, n).astype(np.float64)
    n_b = np.round(rng.normal(50.0, 15.0, n), 2)
    n_c = np.round(rng.random(n) * 10.0, 1)
    c_x = rng.choice(len(NARROW_CATS), n, p=[0.4, 0.3, 0.3])
    # c_x shifts the score by more than the numerics span, so every seed
    # splits the root on it and the frontier widths match across seeds
    score = (
        0.04 * n_a
        + 0.03 * n_b
        + 0.8 * np.sin(n_id / 90.0)
        + 0.15 * n_c
        + np.array([0.0, 12.0, -12.0])[c_x]
    )
    return {
        "c_x": np.asarray(NARROW_CATS)[c_x],
        "n_id": n_id,
        "n_a": n_a,
        "n_b": n_b,
        "n_c": n_c,
        "label": _three_class(rng, score, 0.2),
    }


def _write_narrow(out: Path, seed: int) -> tuple[str, int, str]:
    cols = _narrow_columns(_rng(seed, "narrow"), NARROW_ROWS)
    fmt = {"n_id": "%.4f", "n_a": "%.0f", "n_b": "%.2f", "n_c": "%.1f"}
    parts = [
        np.char.mod(fmt[k], v) if k in fmt else v for k, v in cols.items()
    ]
    lines = parts[0].astype(object)
    for p in parts[1:]:
        lines = lines + "\t" + p.astype(object)
    (out / "narrow.tsv").write_text("\n".join(lines) + "\n")
    attrs = _attributes({"c_x": NARROW_CATS}, ["n_id", "n_a", "n_b", "n_c"],
                        "label", CLASSES3)
    return "narrow.tsv", NARROW_ROWS, attrs


def _write_parquet(path: Path, table: pa.Table, parts: int = 1) -> None:
    """One file, or with ``parts > 1`` a directory of that many files, as
    a partitioned dataset arrives, so the scan splits across the cores."""
    if parts == 1:
        pq.write_table(table, path, compression="snappy",
                       row_group_size=1 << 20)
        return
    path.mkdir(exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        _write_parquet(path / f"part-{k:03d}.parquet",
                       table.slice(k * step, step))


def _write_wide(out: Path, seed: int) -> tuple[str, int, str]:
    rng = _rng(seed, "wide")
    n = WIDE_ROWS
    g = rng.integers(0, WIDE_GROUPS, n)
    cols = {"w_cat": pa.array(np.char.mod("g%03d", g))}
    for i in range(WIDE_NUMERICS):
        cols[f"w_n{i:02d}"] = pa.array(rng.integers(0, 10_000, n) / 100.0)
    # the group decides the class up to 30% noise, so the root splits on
    # w_cat and every depth-1 node stays impure
    cls = g % len(WIDE_CLASSES)
    flip = rng.random(n) < 0.3
    cls[flip] = rng.integers(0, len(WIDE_CLASSES), int(flip.sum()))
    cols["w_cls"] = pa.array(np.asarray(WIDE_CLASSES)[cls])
    _write_parquet(out / "wide.parquet", pa.table(cols))
    attrs = _attributes(
        {"w_cat": tuple(f"g{i:03d}" for i in range(WIDE_GROUPS))},
        [f"w_n{i:02d}" for i in range(WIDE_NUMERICS)],
        "w_cls",
        WIDE_CLASSES,
    )
    return "wide.parquet", n, attrs


def _write_fractional(out: Path, seed: int) -> tuple[str, int, str]:
    rng = _rng(seed, "fractional")
    n = FRACTIONAL_ROWS
    arrays = {}
    for k, v in _narrow_columns(rng, n).items():
        mask = None
        if k in ("c_x", "n_b"):
            mask = rng.random(n) < FRACTIONAL_NULL_SHARE
        arrays[k] = pa.array(v, mask=mask)
    _write_parquet(out / "fractional.parquet", pa.table(arrays))
    attrs = _attributes({"c_x": NARROW_CATS}, ["n_id", "n_a", "n_b", "n_c"],
                        "label", CLASSES3)
    return "fractional.parquet", n, attrs


def _write_score_table(name: str, n: int, parts: int):
    def write(out: Path, seed: int) -> tuple[str, int, str]:
        rng = _rng(seed, name)
        s_cat = rng.integers(0, 2, n)
        nums = [np.round(rng.random(n) * 100.0, 2) for _ in range(4)]
        score = (
            np.sin(nums[0] / 15.0) + 0.02 * nums[1] + 0.01 * nums[2]
            + 0.5 * s_cat
        )
        _write_parquet(out / f"{name}.parquet", pa.table({
            "s_cat": pa.array(np.asarray(SCORE_CATS)[s_cat]),
            **{f"s_n{i}": pa.array(v) for i, v in enumerate(nums)},
            "label": pa.array(_three_class(rng, score, 0.25)),
        }), parts)
        attrs = _attributes({"s_cat": SCORE_CATS},
                            [f"s_n{i}" for i in range(4)], "label", CLASSES3)
        return f"{name}.parquet", n, attrs

    return write


TABLES = {
    "narrow": _write_narrow,
    "wide": _write_wide,
    "fractional": _write_fractional,
    "score": _write_score_table("score", SCORE_ROWS, SCORE_PARTS),
    "score_train": _write_score_table("score_train", SCORE_TRAIN_ROWS, 1),
}


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with path.open("rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def seed_dir(seed: int, cache_root: Path) -> Path:
    return cache_root / f"seed-{seed}-v{GEN_VERSION}"


def generate(seed: int, cache_root: Path, table: str) -> dict:
    """Write (or reuse) one table for ``seed`` under :func:`seed_dir`
    and return its manifest: the data file and its attributes file, the
    row count, and per file its size in bytes and SHA-256."""
    out = seed_dir(seed, cache_root)
    manifest_path = out / f"{table}.manifest.json"
    if manifest_path.exists():
        return json.loads(manifest_path.read_text())
    out.mkdir(parents=True, exist_ok=True)
    data, rows, attrs = TABLES[table](out, seed)
    (out / f"{table}.attributes").write_text(attrs)
    files = [f"{table}.attributes", data]
    if (out / data).is_dir():
        files[1:] = sorted(f"{data}/{p.name}" for p in (out / data).iterdir())
    manifest = {
        "seed": seed,
        "version": GEN_VERSION,
        "table": table,
        "data": data,
        "attributes": f"{table}.attributes",
        "rows": rows,
        "files": {
            f: {"bytes": (out / f).stat().st_size, "sha256": _sha256(out / f)}
            for f in files
        },
        "data_bytes": sum((out / f).stat().st_size for f in files[1:]),
    }
    tmp = manifest_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    os.replace(tmp, manifest_path)
    return manifest


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Write every table for a seed.")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=Path,
                    default=Path(__file__).resolve().parent.parent
                    / ".perfbench" / "data")
    args = ap.parse_args()
    for name in TABLES:
        print(json.dumps(generate(args.seed, args.out, name), sort_keys=True))
