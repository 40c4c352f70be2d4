"""End-to-end flow tests (SURVEY.md §3): the composed preprocess pipelines
run scan→clean→derive→join→encode→sink as one plan and land correct,
readable, pruned output.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.ml.linalg import VectorUDT
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from yellowrush_spark_ml_pipeline_spark.flows import (
    preprocess_dim_csv,
    preprocess_lineitem,
    train_and_evaluate,
    validate_preprocessed,
)
from yellowrush_spark_ml_pipeline_spark.sources.readers import read_parquet


def test_preprocess_lineitem_end_to_end(spark, sf_small, tmp_path):
    out_path = str(tmp_path / "preprocessed")
    df = preprocess_lineitem(spark, sf_small, output_path=out_path, encode=True)

    # encoded variant carries the OHE vector (M1/M2 executed in the flow)
    assert isinstance(df.schema["returnflag_cat_ohe"].dataType, VectorUDT)

    back = read_parquet(spark, out_path)
    assert back.count() == df.count() > 0
    # hive layout by ship_year
    years = [p.name for p in pathlib.Path(out_path).iterdir() if p.name.startswith("ship_year=")]
    assert len(years) == df.select("ship_year").distinct().count()

    # labels are strict binary
    bad = back.filter(~F.col("is_over_expected").isin(0, 1) | ~F.col("is_discounted").isin(0, 1))
    assert bad.count() == 0


def test_validate_preprocessed_gate(spark, sf_small):
    df = preprocess_lineitem(spark, sf_small, encode=False)
    v = validate_preprocessed(df)
    assert v["row_count"] > 0
    assert v["nulls_l_orderkey"] == 0
    assert v["nulls_expected_quantity"] == 0
    assert v["negative_l_quantity"] == 0
    assert v["negative_expected_quantity"] == 0


def test_both_model_flows_on_preprocessed_output(spark, sf_small, tmp_path):
    """§3.3/§3.4 parity: the reference trains BOTH models on the
    preprocessed dataset — congestion-style (threshold label) and
    delay-style (exceeds-expected label, derived from the historical
    average) — with the same flow, different label."""
    from yellowrush_spark_ml_pipeline_spark.ml.pipelines import load_model

    df = preprocess_lineitem(spark, sf_small, encode=False).cache()
    feats = ["ship_month", "ship_day_of_week", "ship_is_holiday", "l_quantity", "p_retailprice"]

    # delay-model analogue: label derived from expected-value exceedance
    delay_metrics = train_and_evaluate(df, feats, "is_over_expected", sample_fraction=None)
    assert set(delay_metrics) == {"roc_auc", "accuracy", "precision", "recall", "f1"}
    assert 0.4 <= delay_metrics["roc_auc"] <= 1.0  # hard label, like the ref's 0.67

    # congestion-model analogue: threshold label, persisted like the ref
    path = str(tmp_path / "discount_model")
    cong_metrics = train_and_evaluate(
        df, ["l_extendedprice", "ship_month", "l_quantity"], "is_discounted",
        sample_fraction=None, model_path=path,
    )
    assert 0.4 <= cong_metrics["roc_auc"] <= 1.0
    assert load_model(path).stages[-1].getNumTrees == 30  # reference RF config
    df.unpersist()


def test_weather_flow_reference_shape(spark, tmp_path):
    """The reference's weather pipeline end-to-end on WEATHER_SCHEMA
    (nyc_taxi_final.py:149-234): headerless CSV → schema'd read → select +
    round → 2024-H1 date filter → validation aggregate → parquet sink →
    D9 broadcast join with null fill."""
    from yellowrush_spark_ml_pipeline_spark.operators.aggregates import (
        date_range_stats,
        null_counts,
    )
    from yellowrush_spark_ml_pipeline_spark.operators.joins import broadcast_dim_join
    from yellowrush_spark_ml_pipeline_spark.schemas import WEATHER_SCHEMA

    rows = []
    for m, d, tmin, prcp in [
        (1, 5, -3.456, 0.0), (3, 10, 4.2, 1.25), (6, 30, 18.999, 0.4),
        (7, 1, 22.0, 0.0),  # month 7 → filtered out
    ]:
        rows.append(f"2024-{m:02d}-{d:02d},5.0,{tmin},9.9,{prcp},0,180,3.3,7.7,1013.2,100")
    rows.append("2023-12-31,1.0,0.5,2.0,0.1,0,90,1.0,2.0,1010.0,50")  # 2023 → out
    src = tmp_path / "weather.csv"
    src.write_text("\n".join(rows) + "\n")

    out = str(tmp_path / "weather_clean")
    wx = preprocess_dim_csv(
        spark,
        str(src),
        WEATHER_SCHEMA,
        select_cols=["date", "tmin", "prcp"],
        round_cols={"tmin": 2, "prcp": 2},
        predicate=(F.year("date") == 2024) & F.month("date").between(1, 6),
        output_path=out,
    )
    assert wx.count() == 3
    # A1/A2 validation, reference style
    stats = date_range_stats(wx, "date").first()
    assert str(stats.min_value) == "2024-01-05" and str(stats.max_value) == "2024-06-30"
    assert null_counts(wx).first().asDict() == {"date": 0, "tmin": 0, "prcp": 0}

    # D9: broadcast join + na.fill on a fact keyed by date
    back = read_parquet(spark, out)
    fact = spark.createDataFrame(
        [("2024-01-05",), ("2024-02-02",)], ["d"]
    ).select(F.to_date("d").alias("date"))
    # P9: float→double upcast before the join, like the reference (:559-560)
    back = back.withColumn("tmin", F.round(F.col("tmin").cast("double"), 2)).withColumn(
        "prcp", F.round(F.col("prcp").cast("double"), 2)
    )
    joined = broadcast_dim_join(
        fact, back, on="date", how="left", fill={"tmin": 0.0, "prcp": 0.0}
    )
    got = {str(r.date): (r.tmin, r.prcp) for r in joined.collect()}
    assert got["2024-01-05"] == (-3.46, 0.0)  # rounded like the reference
    assert got["2024-02-02"] == (0.0, 0.0)  # unmatched → filled


def test_curate_corpus_flow(spark, sf_small, tmp_path):
    """Curation end-to-end: planted near-dups collapse to one
    representative, low-quality docs are dropped, output lands
    hive-partitioned by language."""
    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus
    from yellowrush_spark_ml_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    planted = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny suffix")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    out_path = str(tmp_path / "curated")
    curated = curate_corpus(
        docs.unionByName(planted),
        min_quality=0.5,
        jaccard_threshold=0.5,
        output_path=out_path,
    ).cache()

    ids = {r.doc_id for r in curated.select("doc_id").collect()}
    # every planted near-dup lost to its (smaller-id) source
    survivors = [i for i in ids if i >= 700000]
    # a planted copy survives only if its source was quality-filtered out
    for s in survivors:
        assert (s - 700000) not in ids
    assert len(ids) > 300  # most of the corpus survives curation
    # quality gate actually dropped something
    assert curated.count() < docs.count() + 25
    # partitioned-by-lang layout on disk
    import pathlib

    langs = {p.name for p in pathlib.Path(out_path).iterdir() if p.name.startswith("lang=")}
    assert langs == {f"lang={r.lang}" for r in curated.select("lang").distinct().collect()}
    curated.unpersist()


def test_curate_corpus_redacts_pii(spark, sf_small):
    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus
    from yellowrush_spark_ml_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(" mail me: a.b@example.com"))
    )
    curated = curate_corpus(docs, min_quality=0.0, jaccard_threshold=0.9, redact=True)
    leaked = curated.filter(F.col("text").contains("example.com")).count()
    assert leaked == 0
    assert curated.filter(F.col("text").contains("[REDACTED]")).count() > 0


def test_curate_corpus_rejects_scorer_that_drops_a_column(spark, sf_small):
    """A callable quality_scorer is add-only: the decision attach re-reads
    the original columns from the input, so a scorer output missing one
    is refused rather than silently restored."""
    from yellowrush_spark_ml_pipeline_spark.flows import curate_corpus
    from yellowrush_spark_ml_pipeline_spark.operators.textstats import (
        quality_score,
    )
    from yellowrush_spark_ml_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")

    def drops_source(d):
        return quality_score(d).drop("source")

    with pytest.raises(ValueError, match="add-only"):
        curate_corpus(docs, quality_scorer=drops_source)


def test_preprocess_dim_csv_flow(spark, tmp_path):
    schema = StructType(
        [
            StructField("station", StringType()),
            StructField("tmin", DoubleType()),
            StructField("prcp", DoubleType()),
        ]
    )
    src = tmp_path / "dim.csv"
    src.write_text(
        "A,12.3456,0.111\nB,-45.0,2.5\nC,7.89,0.0\nD,99.9,-1.0\n"
    )
    out = str(tmp_path / "dim_parquet")
    df = preprocess_dim_csv(
        spark,
        str(src),
        schema,
        round_cols={"tmin": 2},
        ranges={"prcp": (0.0, None, True, False)},  # drops D (negative prcp)
        output_path=out,
    )
    rows = {r.station: r for r in df.collect()}
    assert set(rows) == {"A", "B", "C"}
    assert rows["A"].tmin == 12.35
    back = read_parquet(spark, out)
    assert back.count() == 3


def test_export_training_set_flow(spark, sf_small, tmp_path):
    """Final-mile export: deterministic hash-mod split (stable under
    corpus growth), per-(split,lang) packing with no cross-boundary
    bins, hive layout split=/lang=, and a manifest that exactly accounts
    for the written dataset."""
    import pathlib

    from yellowrush_spark_ml_pipeline_spark.flows import export_training_set
    from yellowrush_spark_ml_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    out = str(tmp_path / "training_set")
    dataset, manifest = export_training_set(docs, output_path=out)
    dataset = dataset.cache()

    rows = dataset.collect()
    assert rows, "export produced no rows"
    # split is the seeded hash-mod of doc_id — recompute and compare
    want_split = {
        r.doc_id: ("val" if r.h % 10 == 0 else "train")
        for r in dataset.select(
            "doc_id", F.pmod(F.xxhash64("doc_id", F.lit(42)), F.lit(10)).alias("h")
        ).collect()
    }
    assert all(want_split[r.doc_id] == r.split for r in rows)
    assert {r.split for r in rows} == {"train", "val"}
    # packing is (split, lang)-local: bins count from 0 in every group
    # and bin start offsets never exceed capacity boundaries
    from collections import defaultdict

    by_grp = defaultdict(list)
    for r in rows:
        by_grp[(r.split, r.lang)].append(r)
    for grp, members in by_grp.items():
        assert min(m.bin_id for m in members) == 0, grp
    # manifest accounts exactly for the dataset
    m = {(r.split, r.lang): r for r in manifest.collect()}
    for grp, members in by_grp.items():
        assert m[grp].n_docs == len(members)
        assert m[grp].n_tokens == sum(x.pack_tokens for x in members)
        assert m[grp].n_bins == max(x.bin_id for x in members) + 1
    # hive layout + manifest on disk
    splits = {p.name for p in pathlib.Path(out).iterdir() if "=" in p.name}
    assert splits == {"split=train", "split=val"}
    back = spark.read.parquet(f"{out}_manifest")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, manifest.collect())
    )
    dataset.unpersist()
