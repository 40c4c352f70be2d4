"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY.md §2.12 extension surface).

This is the escape hatch for stateful semantics the built-in windowed
aggregations can't express (per-key running aggregates with arbitrary
update logic, custom eviction, cross-batch counters). State lives in the
executor-side state store keyed by the group key — per-key state is
O(state schema), not O(events), so a 100 TB/day stream holds only
(n_keys × a few bytes) of state. Arrow moves each micro-batch's rows to
Python once per batch per key group, not per row.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def streaming_dedup(
    spark,
    source_path: str,
    schema: StructType,
    dedup_cols: list[str] | None = None,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` backed by the
    state store, so a duplicate arriving in a LATER micro-batch is still
    suppressed (state remembers seen keys).  One source file per
    micro-batch.

    With ``ts_col`` set, uses ``dropDuplicatesWithinWatermark``: a
    duplicate key arriving within the watermark delay is dropped and the
    key's state is evicted once the watermark passes it — state is
    O(keys-per-watermark-window), not O(all keys ever), which is
    mandatory at 100 TB/day. Without it, state grows unboundedly (only
    acceptable for bounded backfills)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, watermark)
        return stream.dropDuplicatesWithinWatermark(dedup_cols)
    return stream.dropDuplicates(dedup_cols)


def streaming_enrich(
    spark,
    source_path: str,
    schema: StructType,
    dim: "DataFrame",
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch (one source file)
    joins the live stream against a static dimension (user profile,
    weather, parts).

    The static side is broadcast — per micro-batch there is no shuffle of
    the stream, exactly the J2/D9 pattern lifted to streaming. The dim is
    re-resolved per batch, so a dim backed by a table picks up slowly-
    changing updates without restarting the query."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), on, how)


def streaming_interval_join(
    spark,
    left_path: str,
    right_path: str,
    schema: StructType,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_delay: str = "1 hour",
    left_type: str | None = None,
    right_type: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Stream-stream INNER interval join: right-side events that occur
    within ``(left.ts, left.ts + max_delay]`` for the same key —
    click→purchase attribution as two live streams.

    Both sides carry 30-minute watermarks and the join condition is a
    closed time range, which is what lets Spark BOUND THE JOIN STATE:
    each side's buffered rows are dropped once the other side's watermark passes
    ts + max_delay. Without the range condition the state grows forever —
    that, not correctness, is why unconstrained stream-stream equi-joins
    are rejected for append output. State size is O(events inside the
    watermark+delay horizon per key), independent of stream length."""
    from pyspark.sql import functions as F

    def side(path: str, flt: str | None, prefix: str) -> DataFrame:
        s = (
            spark.readStream.schema(schema)
            .parquet(path)
            .withWatermark(ts_col, "30 minutes")
        )
        if flt is not None:
            s = s.filter(F.col(type_col) == flt)
        return s.select(
            F.col(key_col).alias(f"{prefix}_{key_col}"),
            F.col(ts_col).alias(f"{prefix}_{ts_col}"),
            F.col("value").alias(f"{prefix}_value"),
        )

    left = side(left_path, left_type, "l")
    right = side(right_path, right_type, "r")
    lk, rk = f"l_{key_col}", f"r_{key_col}"
    lt, rt = f"l_{ts_col}", f"r_{ts_col}"
    cond = (
        (F.col(lk) == F.col(rk))
        & (F.col(rt) > F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {max_delay}"))
    )
    return left.join(right, cond, "inner").select(
        F.col(lk).alias(key_col),
        F.col(lt),
        F.col(rt),
        F.col("l_value"),
        F.col("r_value"),
    )


def streaming_user_totals(
    spark,
    source_path: str,
    schema: StructType,
    user_col: str = "user_id",
    value_col: str = "value",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Running per-user (event_count, value_sum) maintained across
    micro-batches with explicit state — the minimal custom stateful
    operator shape: read state → fold the batch in → write state → emit
    the updated row. Output mode must be ``update``.

    The same fold expressed with built-ins would be a streaming
    ``groupBy(user).agg`` in update mode; the point of this operator is the
    *custom* state hook (replace the fold with decay, distinct-counting
    sketches, per-key model state, …) while keeping the state-store
    contract."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import NumericType

    # Output/key types derive from the declared source schema — a string
    # key or non-numeric value would otherwise fail deep inside the
    # micro-batch's Arrow conversion instead of at call time.
    key_type = schema[user_col].dataType
    if not isinstance(schema[value_col].dataType, NumericType):
        raise TypeError(
            f"value_col {value_col!r} must be numeric, got "
            f"{schema[value_col].dataType.simpleString()}"
        )
    out_schema = StructType(
        [
            StructField(user_col, key_type),
            StructField("event_count", LongType()),
            StructField("value_sum", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("count", LongType()), StructField("total", DoubleType())]
    )

    def update_totals(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((count, total))
        yield pd.DataFrame(
            {user_col: [key[0]], "event_count": [count], "value_sum": [total]}
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    return stream.groupBy(user_col).applyInPandasWithState(
        update_totals,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_transitions(
    spark,
    source_path: str,
    schema: StructType,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming Markov transitions: the batch `event_transitions` lifted
    to a stream. Per-user state remembers the LAST event (ts, id, type);
    each micro-batch sorts the user's new rows by (ts, id), stitches the
    cross-batch boundary transition from state, and emits one row per
    consecutive pair. Downstream, a streaming groupBy(prev, next) count
    in update mode yields the live transition matrix.

    Ordering contract: within a batch, rows are sorted; ACROSS batches the
    operator assumes per-user event-time-ordered arrival (true for CDC /
    log-shipped sources — the same assumption as every lag-based CDC
    consumer). Out-of-order arrivals across batches would need a
    watermark-deep reorder buffer in state, which trades memory for
    disorder tolerance; at 100 TB/day you fix ordering in the bus, not in
    O(disorder-window) per-key buffers.

    State is 3 scalars per user — O(active users), the state-store shape
    that survives any stream length."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StringType, TimestampType

    out_schema = StructType(
        [
            StructField(user_col, schema[user_col].dataType),
            StructField("prev_type", StringType()),
            StructField("next_type", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ts", TimestampType()),
            StructField("last_id", LongType()),
            StructField("last_type", StringType()),
        ]
    )

    def emit_transitions(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        batch = batch.sort_values([ts_col, id_col], ignore_index=True)
        types = batch[type_col].tolist()
        prevs: list[str] = []
        nexts: list[str] = []
        if state.exists:
            prevs.append(state.get[2])
            nexts.append(types[0])
        prevs.extend(types[:-1])
        nexts.extend(types[1:])
        last = batch.iloc[-1]
        state.update(
            (last[ts_col].to_pydatetime(), int(last[id_col]), str(last[type_col]))
        )
        if prevs:
            yield pd.DataFrame(
                {
                    user_col: [key[0]] * len(prevs),
                    "prev_type": prevs,
                    "next_type": nexts,
                }
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    return stream.groupBy(user_col).applyInPandasWithState(
        emit_transitions,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_near_dup_candidates(
    spark,
    source_path: str,
    schema: StructType,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates: the incremental
    dedup shape (new batch vs everything already seen) as a continuous
    stream. Emits (id_a, id_b, band_id) candidate pairs the moment the
    later document arrives — verify with the exact Jaccard join
    downstream (batch or foreachBatch).  Signatures are 32 xxhash64
    minima over word 3-gram shingles, banded 8 x 4.

    Plan shape: signatures are computed PER ROW with the narrow
    ``array_min(transform(...))`` formulation — deliberately the
    no-shuffle variant (its batch cousin uses explode + groupBy partial
    aggregation, which on a stream would be a SECOND stateful operator;
    chaining stateful ops is where streaming plans go to die). Banding
    explodes each doc to its ``bands`` bucket rows, and the ONLY
    stateful hop keys the state store by (band_id, band_hash): state is
    the bucket's member id list, capped at 50 ids — the
    same boilerplate-skew guard as the batch tier, which here also
    bounds per-key state memory. Total state is O(docs x bands) ids —
    at 100 TB/day you add a TTL (GroupStateTimeout) so buckets idle past
    the dedup horizon evict.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, StringType

    from ..functions.text import shingles, tokens

    num_hashes, bands, shingle_n, max_bucket_size = 32, 8, 3, 50
    sh = F.array_distinct(shingles(tokens(F.col(text_col)), shingle_n))
    mins = F.array(
        *[
            F.array_min(
                F.transform(sh, lambda s, i=i: F.xxhash64(s, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    )
    rows_per_band = num_hashes // bands
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[mins[b * rows_per_band + r] for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("band_id", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("members", ArrayType(LongType()))]
    )

    def emit_candidates(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        members: list[int] = list(state.get[0]) if state.exists else []
        ids_a: list[int] = []
        ids_b: list[int] = []
        for pdf in pdfs:
            for doc in sorted(int(x) for x in pdf[id_col]):
                if doc in members:
                    continue
                if len(members) < max_bucket_size:
                    for m in members:
                        a, b = (m, doc) if m < doc else (doc, m)
                        ids_a.append(a)
                        ids_b.append(b)
                    members.append(doc)
                # capped-out buckets stop emitting (boilerplate guard)
        state.update((members,))
        if ids_a:
            yield pd.DataFrame(
                {
                    "id_a": ids_a,
                    "id_b": ids_b,
                    "band_id": [key[0]] * len(ids_a),
                }
            )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    banded = stream.select(
        F.col(id_col), F.posexplode(band_keys).alias("band_id", "band_hash")
    )
    cands = banded.groupBy("band_id", "band_hash").applyInPandasWithState(
        emit_candidates,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    # a pair sharing several bands appears once per band; distinct-per-
    # batch dedup is the consumer's verify join's job (state cannot span
    # buckets without a second shuffle)
    return cands


def streaming_semantic_dedup(
    spark,
    source_path: str,
    schema: StructType,
    centroids: list[list[float]],
    threshold: float = 0.9,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming SemDeDup — the embedding-tier member of the stateful
    family (the semantic sibling of :func:`streaming_near_dup_candidates`):
    judge a continuous stream of embeddings against everything already
    KEPT, under FROZEN cluster geometry from a prior
    ``semantic_dedup_build``.

    Per row, JVM-side and narrow: normalize + argmin against the frozen
    centroid literals (the ``ivf_assign`` expression — no shuffle, no
    Python).  The ONE stateful hop keys the state store by cluster_id;
    state is the cluster's kept members — (ids, normalized vectors),
    capped at 512 members.  An arriving doc is judged
    against the stored members (cosine >= ``threshold`` -> pruned,
    emitting the incumbent that claimed it); survivors are appended to
    state and emitted with ``keep = 1``.

    Semantics contract, stated honestly: a stream cannot retroactively
    prune an earlier keeper, so ARRIVAL order (micro-batch order, then
    id order within a batch) is canonicality — first-seen wins.  The
    batch judge (:func:`...similarity.semantic_dedup_incremental`)
    instead uses centroid-distance canonicality within a batch; on
    planted collinear duplicates the two agree (the original precedes
    its copies), and the cross-batch incumbent rule is identical.

    State memory: O(kept x dim) doubles per cluster, bounded by the
    cap.  A cluster at cap keeps judging arrivals against its stored
    members but stops STORING new keepers (they are emitted keep=1 and
    forgotten — a documented recall bound, the same guard shape as the
    MinHash tier's ``max_bucket_size``); production pairs the cap with
    the IVF sizing n_lists ~ sqrt(n) so expected membership stays far
    below it.

    Output: (vec_id, cluster_id, keep INT, matched_id — the claiming
    incumbent, NULL for keepers)."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, IntegerType

    from ..functions.vector import as_double_array, normalize

    max_cluster_members = 512
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    v = normalize(as_double_array(F.col(emb_col)))
    dists = F.array(
        *[
            F.struct(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            v,
                            F.array(*[F.lit(float(x)) for x in ctr]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("d"),
                F.lit(i).alias("l"),
            )
            for i, ctr in enumerate(centroids)
        ]
    )
    assigned = stream.select(
        F.col(id_col).cast("long").alias(id_col),
        F.array_sort(dists)[0].getField("l").alias("cluster_id"),
        v.alias("_v"),
    )
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("cluster_id", IntegerType()),
            StructField("keep", IntegerType()),
            StructField("matched_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("vecs", ArrayType(ArrayType(DoubleType()))),
        ]
    )

    def judge(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, vecs = list(state.get[0]), [list(x) for x in state.get[1]]
        else:
            ids, vecs = [], []
        kept_mat = np.array(vecs, dtype=np.float64) if vecs else None
        out_id, out_keep, out_match = [], [], []
        rows = []
        for pdf in pdfs:
            for r_id, r_v in zip(pdf[id_col], pdf["_v"]):
                rows.append((int(r_id), np.asarray(r_v, dtype=np.float64)))
        rows.sort(key=lambda t: t[0])  # id order within the micro-batch
        for doc_id, vec in rows:
            match = None
            if kept_mat is not None and len(kept_mat):
                cos = np.round(kept_mat @ vec, 6)
                hits = np.nonzero(cos >= threshold)[0]
                if hits.size:
                    match = ids[int(hits[0])]  # first (oldest) incumbent
            if match is not None:
                out_id.append(doc_id)
                out_keep.append(0)
                out_match.append(match)
            else:
                out_id.append(doc_id)
                out_keep.append(1)
                out_match.append(None)
                if len(ids) < max_cluster_members:
                    ids.append(doc_id)
                    vecs.append([float(x) for x in vec])
                    kept_mat = np.array(vecs, dtype=np.float64)
        state.update((ids, vecs))
        if out_id:
            yield pd.DataFrame(
                {
                    id_col: out_id,
                    "cluster_id": [int(key[0])] * len(out_id),
                    "keep": out_keep,
                    "matched_id": pd.array(out_match, dtype="Int64"),
                }
            )

    return assigned.groupBy("cluster_id").applyInPandasWithState(
        judge,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )
