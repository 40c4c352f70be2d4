"""The benchmark's two workloads.

``query_mix`` sends short lazy relational queries through the noop sink.
``pipelines`` runs the eager layers: the reference notebook's tabular ML
flow, LLM-corpus curation, and the fixed-round graph and similarity loops.

Each workload is a closed loop with one client: a pass runs the workload's
operations back to back, and a run repeats passes.  ``oracles`` computes
the expected outputs on DuckDB from the same input files, without Spark.
Before the timed passes, ``gate`` runs every operation once and compares
its output with those oracles; that first, cold pass and the workload's
untimed warm-up passes are the benchmark's set-up.  ``final_check``
checks what the timed passes left behind.  A check is a
``(name, error or None)`` pair.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np

from perfbench.datagen import TABLES

# Short lazy relational queries over aggregates, joins, events, timeseries,
# sketches, cleaning/features and layout/pruning/mutations.  A traced run
# shows none of them reaching an eager layer (flows, ml, textstats, dedup,
# similarity, graph), and each has a DuckDB oracle.
QUERY_MIX = [
    "label_flags", "histogram", "moving_average", "gini_revenue", "zone_prune",
    "session_stats", "mann_whitney", "hypertable_rollup", "disjunctive_revenue",
    "shipping_priority",
]
# LLM-data curation: textstats' regex quality scoring and MinHash
# near-duplicate pairs with the corpus-relative bucket cap.  Then the
# fixed-round loops of the graph operators and of SemDeDup's similarity
# search.
CORPUS = ["text_quality", "minhash_dedup_autocap"]
ITERATIVE = ["label_propagation", "semantic_dedup"]

# The reference notebook's RF features over the preprocessed lineitem flow.
ML_FEATURES = [
    "l_quantity", "l_extendedprice", "ship_month", "ship_day_of_week",
    "ship_is_holiday", "price_rate", "hist_price_rate", "p_retailprice",
    "returnflag_cat_ohe",
]
ML_LABEL = "is_over_expected"
AUC_TOLERANCE = 1e-3
# DuckDB computes the oracles while the JVM starts; two threads leave the
# other cores to it.
ORACLE_THREADS = 2


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"[:300]


def _oracle_db(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {ORACLE_THREADS}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def auc(labels: np.ndarray, scores: np.ndarray) -> float:
    """Mann-Whitney ROC AUC, ties sharing their average rank."""
    order = np.argsort(scores, kind="mergesort")
    s = scores[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i:j + 1] = (i + j) / 2 + 1
        i = j + 1
    pos = labels[order] == 1
    n_pos, n_neg = pos.sum(), (~pos).sum()
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


class QueryPart:
    """Registered ``__spark_entry__`` queries, each sent through the noop
    sink.  The gate collects each query with ``toPandas`` and compares its
    value hash with that of the query's DuckDB oracle."""

    def __init__(self, queries, tables):
        self.queries = queries
        self.tables = tables

    def ops(self, ctx) -> list[tuple[str, callable]]:
        registry = ctx.entry.queries()

        def run(q):
            df = registry[q](ctx.spark, ctx.data_dir)
            ctx.tracer_catalyst(df)
            with ctx.span("noop", "sink"):
                df.write.format("noop").mode("overwrite").save()

        return [(q, lambda q=q: run(q)) for q in self.queries]

    def oracles(self, entry, con) -> dict:
        sql = entry.oracle_sql()
        return {q: con.execute(sql[q]).fetchdf() for q in self.queries}

    def gate(self, ctx, corrupt: bool = False) -> list[tuple[str, str | None]]:
        from tools.driver_mirror import value_hash

        registry = ctx.entry.queries()
        out = []
        for q in self.queries:
            try:
                got = registry[q](ctx.spark, ctx.data_dir).toPandas()
                if corrupt:
                    got, corrupt = got.iloc[1:], False
                want = ctx.oracles[q]
                if len(got) == 0:
                    out.append((q, "no rows"))
                elif len(got) != len(want):
                    out.append((q, f"rows {len(got)} != oracle {len(want)}"))
                elif value_hash(got) != value_hash(want):
                    out.append((q, "value hash differs from oracle"))
                else:
                    out.append((q, None))
            except Exception as exc:  # noqa: BLE001 — a failed check, not a crash
                out.append((q, _error(exc)))
        return out

    def final_check(self, ctx) -> list[tuple[str, str | None]]:
        return []


class TabularPart:
    """The reference notebook's sections 2-4 through public functions:
    preprocess and write partitioned parquet, read it back, then fit,
    evaluate and save the reference RF (30 % sample)."""

    tables = ["lineitem", "part"]

    def ops(self, ctx) -> list[tuple[str, callable]]:
        from yellowrush_spark_ml_pipeline_spark import flows, ml, sources
        from yellowrush_spark_ml_pipeline_spark.ml.pipelines import RFConfig

        out_dir = os.path.join(ctx.work_dir, "out", "preprocessed")
        model_dir = os.path.join(ctx.work_dir, "out", "models")
        st = ctx.state

        def preprocess():
            shutil.rmtree(out_dir, ignore_errors=True)
            flows.preprocess_lineitem(ctx.spark, ctx.data_dir, output_path=out_dir)

        def read():
            st["df"] = sources.read_parquet(ctx.spark, out_dir)
            st["rows"] = st["df"].count()

        def train():
            st["fit"] = ml.train_classifier(
                st["df"], ML_FEATURES, ML_LABEL, config=RFConfig(), sample_fraction=0.3
            )

        def evaluate():
            model, _, test = st["fit"]
            st.setdefault("auc", []).append(
                ml.evaluate_binary(model, test, ML_LABEL)["roc_auc"]
            )

        def save():
            ml.save_model(st["fit"][0], model_dir)

        return [
            ("preprocess", preprocess),
            ("read", read),
            ("train", train),
            ("eval", evaluate),
            ("save", save),
        ]

    def oracles(self, entry, con) -> dict:
        sql = entry.oracle_sql()["preprocess_pipeline"]
        return {"preprocess_rows": con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]}

    def gate(self, ctx, corrupt: bool = False) -> list[tuple[str, str | None]]:
        checks = []
        for name, op in self.ops(ctx):
            try:
                op()
            except Exception as exc:  # noqa: BLE001
                checks.append((f"gate:{name}", _error(exc)))
        return checks + [self._check_rows(ctx, corrupt)]

    def final_check(self, ctx) -> list[tuple[str, str | None]]:
        """After the timed passes: the rows of the last write, then the
        AUC against a Mann-Whitney AUC recomputed from the model's
        test-split scores and against the AUCs of every pass; the saved
        model must load."""
        from yellowrush_spark_ml_pipeline_spark import ml

        st = ctx.state
        out = [self._check_rows(ctx, False)]
        try:
            model, _, test = st["fit"]
            pdf = model.transform(test).select(ML_LABEL, "probability").toPandas()
            ref = auc(pdf[ML_LABEL].to_numpy(), np.array([p[1] for p in pdf["probability"]]))
            aucs = st["auc"]
            err = None
            if abs(aucs[-1] - ref) > AUC_TOLERANCE:
                err = f"AUC {aucs[-1]:.5f} vs recomputed {ref:.5f}"
            elif max(aucs) - min(aucs) > AUC_TOLERANCE:
                err = f"AUC differs across passes: {min(aucs):.5f}..{max(aucs):.5f}"
            else:
                ml.load_model(os.path.join(ctx.work_dir, "out", "models"))
            out.append(("auc", err))
        except Exception as exc:  # noqa: BLE001
            out.append(("auc", _error(exc)))
        return out

    def _check_rows(self, ctx, corrupt: bool) -> tuple[str, str | None]:
        """Rows read back from the written parquet against the row count
        of the ``preprocess_pipeline`` oracle."""
        want = ctx.oracles["preprocess_rows"]
        got = ctx.state.get("rows", -1) + (1 if corrupt else 0)
        return ("rows", None if got == want else f"wrote {got} rows, oracle {want}")


class Workload:
    """A named sequence of parts over one set of generated inputs.
    ``pass_s`` is the nominal time of one pass, which sets how many timed
    passes a run makes; ``warmup`` passes run untimed before them."""

    def __init__(self, name, scale, pass_s, parts, warmup=0, replicas=1, shuffle=False):
        self.name = name
        self.scale = scale
        self.pass_s = pass_s
        self.warmup = warmup
        self.parts = parts
        self.replicas = replicas
        self.shuffle = shuffle
        self.tables = sorted({t for p in parts for t in p.tables})

    def passes(self, seconds: float) -> int:
        """Timed passes of a run: as many as take ``seconds`` at the
        nominal pass time ``pass_s``, at least one.  The count depends on
        ``seconds`` alone, so every run does the same work however fast
        the machine is at the time."""
        return max(1, round(seconds / self.pass_s))

    def ops(self, ctx) -> list[tuple[str, callable]]:
        return [op for p in self.parts for op in p.ops(ctx)]

    def oracles(self, entry, data_dir: str) -> dict:
        con = _oracle_db(data_dir)
        try:
            return {k: v for p in self.parts for k, v in p.oracles(entry, con).items()}
        finally:
            con.close()

    def gate(self, ctx, corrupt: bool = False) -> list[tuple[str, str | None]]:
        """``corrupt`` alters the first checked output of the first part."""
        checks = []
        for p in self.parts:
            checks += p.gate(ctx, corrupt)
            corrupt = False
        return checks

    def final_check(self, ctx) -> list[tuple[str, str | None]]:
        return [c for p in self.parts for c in p.final_check(ctx)]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "query_mix", 0.002, 2.0, [QueryPart(QUERY_MIX, TABLES)], warmup=1, shuffle=True
        ),
        Workload(
            "pipelines",
            0.002,
            20.0,
            [
                TabularPart(),
                QueryPart(CORPUS, ["documents"]),
                QueryPart(ITERATIVE, ["orders", "lineitem", "embeddings"]),
            ],
            replicas=4,
        ),
    )
}
