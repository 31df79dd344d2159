"""The workloads: each is a fixed list of ops that one pass runs in
order, the inputs they read, and the checks their outputs must pass.

An op has two phases. ``construct`` calls into the package and returns
what it built (a DataFrame for registry queries), including any jobs
the package runs eagerly while building. ``action`` runs it to a
complete result on the driver. ``rows`` gives the result's row count,
which every timed run of the op must reproduce.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen


@dataclass
class Ctx:
    """What an op sees: the session, the input directory of the current
    pass, and state the ops of one pass hand to each other."""

    spark: object
    data_dir: str
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    construct: Callable[[Ctx], object]
    action: Callable[[Ctx, object], object]
    rows: Callable[[object], int] = lambda res: res.num_rows
    # extra output check on every run: returns an error text or None
    check: Callable[[object], str | None] = lambda res: None


def _collect(ctx: Ctx, df: DataFrame):
    return df.toArrow()


def query_op(name: str) -> Op:
    """A registry query, collected as one Arrow table."""

    def construct(ctx: Ctx) -> DataFrame:
        from hive_population_ml_spark.queries import QUERIES

        return QUERIES[name](ctx.spark, ctx.data_dir)

    return Op(name, construct, _collect)


# --- the api op on the FIXTURES §C role mapping ------------------------------


def _population_construct(ctx: Ctx):
    """events play the sensor table (user_id = hive, value = reading);
    orders play the annotations (o_custkey = hive, o_totalprice = label
    column). Order dates span 1995-2001 and events one month of 2024, so
    each order's evaluation date is placed on day ``o_orderkey % 30`` of
    that month."""
    from hive_population_ml_spark.api import create_datasets, create_population_dataset
    from hive_population_ml_spark.io.sources import load_table

    events = load_table(ctx.spark, ctx.data_dir, "events")
    orders = load_table(ctx.spark, ctx.data_dir, "orders")
    annotations = orders.select(
        F.col("o_custkey").alias("hive_id"),
        F.timestamp_seconds(F.lit(1_704_067_200) + (F.col("o_orderkey") % 30) * 86_400)
        .cast(dict(events.dtypes)["ts"])
        .alias("eval_date"),
        F.col("o_totalprice").alias("frames_of_bees"),
    )
    ds = create_population_dataset(
        events, annotations,
        key="user_id", sensor_ts="ts",
        annot_key="hive_id", annot_date="eval_date",
        measures=["value"], label_col="frames_of_bees",
        label_threshold=250_000.0, window_days=7, min_count=5,
    )
    return create_datasets(ds, "hive_id")


def _population_action(ctx: Ctx, built):
    train, val, test, _info = built
    return {"train": train.toArrow(), "val": val.toArrow(), "test": test.toArrow()}


def _population_check(res) -> str | None:
    if res["train"].num_rows == 0:
        return "empty train split"
    keys = {s: set(res[s].column("hive_id").to_pylist()) for s in res}
    if keys["train"] & keys["test"] or keys["train"] & keys["val"]:
        return "a hive straddles splits"
    return None


POPULATION_OP = Op(
    "api_population_datasets",
    _population_construct,
    _population_action,
    rows=lambda res: sum(t.num_rows for t in res.values()),
    check=_population_check,
)

# --- model_train: the reference train.py journey ----------------------------

# Iteration caps for the two estimators. At the reference settings (MLP
# 200, GBT 50) the two fits take about 28 s on 4 cores, more than a whole
# run may spend; each iteration still launches its own jobs, so the caps
# shorten the scheduler loop without changing what it does.
MLP_MAX_ITER = 5
GBT_MAX_ITER = 3


def _features_construct(ctx: Ctx):
    from hive_population_ml_spark.ml.features import build_feature_table

    ft = build_feature_table(ctx.spark, ctx.data_dir).cache()
    ctx.state["ft"] = ft
    return ft


def _fit_pipeline_construct(ctx: Ctx):
    from hive_population_ml_spark.ml.pipeline import feature_pipeline, numeric_feature_cols

    train = ctx.state["ft"].filter(F.col("split") == "train")
    feats = numeric_feature_cols(train, exclude={"anchor_orderkey", "custkey", "target"})
    ctx.state["n_features"] = len(feats)
    return feature_pipeline(feats), train


def _fit_pipeline_action(ctx: Ctx, built):
    pipe, train = built
    backbone = pipe.fit(train)
    ctx.state["backbone"] = backbone
    ctx.state["train_x"] = backbone.transform(train)
    return backbone


def _mlp_construct(ctx: Ctx):
    from hive_population_ml_spark.ml.pipeline import mlp_classifier

    return mlp_classifier(n_features=ctx.state["n_features"]).setMaxIter(MLP_MAX_ITER)


def _gbt_construct(ctx: Ctx):
    from hive_population_ml_spark.ml.pipeline import reference_regressors

    gbt = reference_regressors(label_col="target")["gradient_boosting"]
    return gbt.setMaxIter(GBT_MAX_ITER)


def _fit_action(key: str):
    def action(ctx: Ctx, est):
        ctx.state[key] = est.fit(ctx.state["train_x"])
        return ctx.state[key]

    return action


def _accuracy(preds: DataFrame, prefix: str) -> DataFrame:
    return preds.agg(
        F.count("*").alias(f"{prefix}n"),
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias(f"{prefix}accuracy"),
        F.avg("label").alias(f"{prefix}positive_rate"),
    )


def _score_construct(ctx: Ctx):
    test = ctx.state["backbone"].transform(
        ctx.state["ft"].filter(F.col("split") == "test")
    )
    mlp = ctx.state["mlp"]
    cls = _accuracy(mlp.transform(test), "")
    fit = _accuracy(mlp.transform(ctx.state["train_x"]), "train_")
    err = F.col("prediction") - F.col("target")
    reg = ctx.state["gbt"].transform(test).agg(
        F.avg(F.abs(err)).alias("mae"), F.sqrt(F.avg(err * err)).alias("rmse")
    )
    return cls, fit, reg


def _score_action(ctx: Ctx, built):
    return {k: v for df in built for k, v in df.first().asDict().items()}


def _score_check(m: dict) -> str | None:
    """Every metric finite, and the MLP at least as accurate as always
    guessing the majority class on the split it was fit on. The test
    split holds 13 to 35 rows, where one row moves accuracy by 3 to 8
    points, so a test-split threshold fails on some seeds by chance."""
    if not all(v is not None and math.isfinite(v) for v in m.values()):
        return f"non-finite metric in {m}"
    majority = max(m["train_positive_rate"], 1.0 - m["train_positive_rate"])
    if m["train_accuracy"] < majority:
        return (f"train accuracy {m['train_accuracy']:.3f} below the "
                f"majority-class rate {majority:.3f}")
    return None


def _end_model_pass(ctx: Ctx) -> None:
    ctx.state.pop("ft").unpersist()
    ctx.state.clear()


MODEL_OPS = [
    Op("features", _features_construct, lambda ctx, ft: ft.count(), rows=lambda n: n),
    Op("fit_pipeline", _fit_pipeline_construct, _fit_pipeline_action, rows=lambda m: 1),
    Op("fit_mlp", _mlp_construct, _fit_action("mlp"), rows=lambda m: 1),
    Op("fit_gbt", _gbt_construct, _fit_action("gbt"), rows=lambda m: 1),
    Op("score", _score_construct, _score_action, rows=lambda m: m["n"], check=_score_check),
]


@dataclass
class Workload:
    name: str
    why: str
    scale: float
    tables: tuple[str, ...]
    ops: list[Op]
    # every pass reads a corpus generated for it alone
    fresh_corpus: bool = False
    # ops the traced run repeats right away on the same input: the
    # difference is the cost of building the op's memoized index
    rerun_ops: frozenset = frozenset()
    end_pass: Callable[[Ctx], None] = lambda ctx: None


# Ops of queries/similarity.py. ann_ivfpq trains both the IVF quantizer
# and the PQ codebooks, so it covers the builds of ann_ivf and ann_pq as
# well. knn_bruteforce builds no index: it is the exact search the others
# approximate, and the one with a DuckDB oracle.
INDEX_QUERIES = ["knn_bruteforce", "ann_ivfpq", "embedding_pca", "ann_lsh"]

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "model_train",
            "the train journey: interval join, dataset splits, features and "
            "iterative MLlib fits that launch many tiny jobs",
            scale=0.03,
            tables=("orders", "lineitem", "events"),
            ops=[POPULATION_OP, *MODEL_OPS],
            end_pass=_end_model_pass,
        ),
        Workload(
            "index_build",
            "every pass reads an unseen corpus, so each memoized index is "
            "built before it is served",
            scale=0.02,
            tables=gen.CORPUS_TABLES,
            ops=[query_op(q) for q in INDEX_QUERIES],
            fresh_corpus=True,
            rerun_ops=frozenset(INDEX_QUERIES) - {"knn_bruteforce"},
        ),
    ]
}
