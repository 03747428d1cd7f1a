"""The four workloads: their inputs, the timed call and its checks.

Each workload is a closed loop with one client: the next call starts when
the previous one has returned. A call runs from reading the input to
returning the model (training) or finishing the sink (scoring).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import Observation
from pyspark.sql import functions as F

from c4_5decisiontreebasedonmapreduce_spark.operators import tree
from c4_5decisiontreebasedonmapreduce_spark.sources import tsv

import checks

#: the least share of a traced ``train_wide`` call that its distributed
#: c45_stats level takes
WIDE_C45_SHARE = 0.2

#: the scoring model is trained on this seed's ``score_train`` table, so
#: it is trained once per checkout and every seed scores its own table
SCORE_MODEL_SEED = 0


@dataclass
class Inputs:
    path: str
    schema: tsv.TrainingSchema
    rows: int
    model: tree.DecisionListModel | None = None


def _train_narrow(spark, inp: Inputs):
    df = tsv.read_training_tsv(spark, inp.path, inp.schema)
    return tree.train(df, inp.schema, max_depth=8, prune=True)


def _train_wide(spark, inp: Inputs):
    return tree.train(spark.read.parquet(inp.path), inp.schema, max_depth=2)


def _train_fractional(spark, inp: Inputs):
    return tree.train(
        spark.read.parquet(inp.path), inp.schema, nulls="fractional",
        max_depth=3,
    )


def _score(spark, inp: Inputs) -> dict[str, int]:
    """Score into the noop sink; per-label counts ride along as observed
    metrics of the same (map-only) job."""
    labels = sorted({r.label for r in inp.model.rules} | {
        inp.model.majority_label})
    pred = F.col("prediction")
    obs = Observation("labels")
    (
        inp.model.transform(spark.read.parquet(inp.path))
        .observe(
            obs,
            *[F.count_if(pred == lab).alias(lab) for lab in labels],
            F.count_if(pred.isNull()).alias("None"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return {k: int(v) for k, v in obs.get.items() if v}


def _check_leaves(model, inp: Inputs) -> list[str]:
    return checks.check_leaves(model, inp.path, inp.schema, inp.rows)


def _check_fractional(model, inp: Inputs) -> list[str]:
    return checks.check_fractional(model, inp.path, inp.schema, inp.rows)


def _check_score(counts, inp: Inputs) -> list[str]:
    expected = checks.label_counts(inp.model, inp.path, inp.schema)
    if counts != expected:
        return [f"Spark label counts {counts} != DuckDB {expected}"]
    return []


#: the layer work of one traced call, as ``(what, it holds)`` pairs
Expectations = Callable[[dict[str, float]], list[tuple[str, bool]]]


def _narrow_layers(m: dict[str, float]) -> list[tuple[str, bool]]:
    # driver-path levels only; at most one collect, the terminal
    # histogram-only level
    return [
        ("tree.level_driver_path > 0", m["tree.level_driver_path"] > 0),
        ("tree.level_distributed_path <= 1",
         m["tree.level_distributed_path"] <= 1),
        ("c45_stats.level_s == 0", m["c45_stats.level_s"] == 0),
        ("pruning.jobs == 0", m["pruning.jobs"] == 0),
    ]


def _wide_layers(m: dict[str, float]) -> list[tuple[str, bool]]:
    # a distributed level above the terminal one, taking a real share of
    # the call
    return [
        ("tree.level_distributed_path >= 2",
         m["tree.level_distributed_path"] >= 2),
        (f"c45_stats.level_s >= {WIDE_C45_SHARE} x call wall",
         m["c45_stats.level_s"] >= WIDE_C45_SHARE * m["call_s"]),
    ]


def _fractional_layers(m: dict[str, float]) -> list[tuple[str, bool]]:
    return [("fractional.jobs > 0", m["fractional.jobs"] > 0)]


def _score_layers(m: dict[str, float]) -> list[tuple[str, bool]]:
    return [
        ("no shuffle", m["spark.shuffle_read_bytes"] == 0
         and m["spark.shuffle_write_bytes"] == 0),
        ("predict.job_s > 0", m["predict.job_s"] > 0),
        ("tree.levels == 0", m["tree.levels"] == 0),
    ]


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    table: str  # the generator's table the call reads
    call: Callable  # (spark, Inputs) -> output
    check: Callable[[object, Inputs], list[str]]  # full check of an output
    layers: Expectations

    @staticmethod
    def inputs(data_dir: Path, manifest: dict) -> Inputs:
        return Inputs(
            path=str(data_dir / manifest["data"]),
            schema=tsv.parse_attributes_file(
                data_dir / manifest["attributes"]
            ),
            rows=manifest["rows"],
        )

    @staticmethod
    def fingerprint(out) -> str:
        """Identity of an output, compared across the calls of a run."""
        if isinstance(out, tree.DecisionListModel):
            return out.to_json()
        return repr(sorted(out.items()))

    def layer_errors(self, m: dict[str, float]) -> list[str]:
        """What a traced call's layer metrics ``m`` show missing of the
        layer work this workload was chosen for."""
        return [f"{self.name}: expected {what}"
                for what, ok in self.layers(m) if not ok]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "train_narrow",
            "The reference's own job: TSV + attributes, depth 8, pruned. Every"
            " level fits the driver-stats bound, so prologue, level actions,"
            " Arrow collect, driver work and pruning carry it.",
            "narrow", _train_narrow, _check_leaves, _narrow_layers,
        ),
        Workload(
            "train_wide",
            "A 600-node depth-1 frontier exceeds the driver-stats bound, so"
            " level 1 runs the distributed c45_stats reduction (a third of a"
            " warm call); planning the 600-node level takes most of the rest.",
            "wide", _train_wide, _check_leaves, _wide_layers,
        ),
        Workload(
            "train_fractional",
            "5% nulls under nulls=fractional: the only workload that runs"
            " the weighted level loop of fractional.py.",
            "fractional", _train_fractional, _check_fractional,
            _fractional_layers,
        ),
        Workload(
            "score",
            "A map-only scan plus trie CASE of a ~250-rule depth-8 model into"
            " a noop sink: no training layer and no shuffle, so training"
            " changes should leave it unchanged.",
            "score", _score, _check_score, _score_layers,
        ),
    )
}


def train_score_model(spark, data_dir: Path, manifest: dict,
                      path: Path) -> None:
    """Train the scoring model (depth 8, about 250 rules) on the
    generated ``score_train`` table and save it as JSON to ``path``."""
    inp = Workload.inputs(data_dir, manifest)
    model = tree.train(spark.read.parquet(inp.path), inp.schema, max_depth=8)
    tmp = path.with_suffix(".tmp")
    model.save(str(tmp))
    tmp.replace(path)
