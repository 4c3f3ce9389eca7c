"""Distributed cell-embedding trainers — the "2vec" in hex2vec.

The reference trains three models: skip-gram with negative sampling
over k-ring context pairs (cluster-word2vec.ipynb cells 20-27, over the
H3NeighborDataset this engine rebuilds as
``plans.pipeline.build_neighbor_dataset``), an autoencoder over per-hex
feature vectors (src/models/autoencoder.py:1-56) and the Combined /
BinaryNN model (src/models/combined.py:7-74). No torch ships here: each
model is a NumPy forward/backward ``grad_fn``, and one loop,
:func:`_fit`, trains them all with full-batch synchronous steps:

  * the weights stay on the driver (vocabulary- or layer-sized, never
    fact-sized) and are broadcast once per iteration;
  * one ``mapInArrow`` pass runs ``grad_fn`` over each partition's Arrow
    batches — list columns are read as flat ``values`` views reshaped to
    matrices — and emits the partition's partial gradients as one
    RecordBatch of (m, i, g) rows: the touched word rows for SGNS
    (shuffle volume O(touched words x dim), never O(V x dim)), one row
    per parameter tensor for the MLPs. The training table never
    shuffles;
  * :func:`_reduce_partials` sums the partials cluster-side in
    partition-id order, so float addition order is fixed for a fixed
    partitioning and the driver collects one row per (m, i) — at most
    2V+1 for SGNS, whatever the partition count;
  * the driver applies the step: plain gradient descent for SGNS,
    :func:`_adam` for the autoencoder and Combined.

Every job an iteration starts is labelled ``embed.<trainer> iter k/n``
(``spark.job.description``), so status-store readers can split a
trainer's wall time by iteration.

:func:`skipgram_fit_sharded` keeps the weights as a DataFrame and takes
each step with joins, for vocabularies too large for one process; it
shares the SGNS gradient kernel (:func:`_sgns_grad`) with the dense
trainer.

Full-batch GD is deterministic and embarrassingly data-parallel
(hogwild-style async SGD trades determinism for faster convergence;
noted, not built).
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

_PARTIALS = "m int, i long, g array<double>"
_JOB_DESC = "spark.job.description"


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # clipped for overflow-free exp; gradients saturate anyway
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30.0, 30.0)))


_M64 = (1 << 64) - 1


def _hash_init_row(seed: int, key: int, dim: int) -> np.ndarray:
    """Deterministic per-WORD-ID initial input-embedding row.

    Position-independent: the same (seed, word id) yields the same row
    no matter where the word lands in a vocabulary ordering — the
    property that lets the SHARDED trainer (weights as a DataFrame,
    initialized executor-side per row) start from bit-identical
    weights as the dense path under ``init='hash'``, so their loss
    trajectories can be compared directly (tests/test_embed.py)."""
    rng = np.random.default_rng([seed & _M64, 0x9E3779B9, key & _M64])
    return (rng.standard_normal(dim) / np.sqrt(dim)) * 0.1


def _matrix(col: pa.ListArray, width: int) -> np.ndarray:
    """A list<double> column's non-null rows as a (rows, width) view of
    its flat values (no per-row conversion)."""
    return col.flatten().to_numpy().reshape(-1, width)


def _lists(flat: np.ndarray, lens) -> pa.ListArray:
    """A list<double> column from flat values and per-row lengths."""
    offsets = np.zeros(len(lens) + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.float64()))


def _partials_batch(rows: list) -> pa.RecordBatch:
    """One partition's (m, i, g) partial-gradient rows as one batch."""
    m, i, g = zip(*rows)
    g = [np.ravel(x) for x in g]
    return pa.RecordBatch.from_arrays(
        [pa.array(m, pa.int32()), pa.array(i, pa.int64()),
         _lists(np.concatenate(g), [len(x) for x in g])],
        names=["m", "i", "g"],
    )


@contextmanager
def _iteration_tags(sc, name: str, n_iter: int):
    """Yield ``tag(k)``, which labels the jobs started after it
    ``embed.<name> iter k/n``; the caller's job description is restored
    on exit."""
    prev = sc.getLocalProperty(_JOB_DESC)
    try:
        yield lambda k: sc.setJobDescription(f"embed.{name} iter {k}/{n_iter}")
    finally:
        sc.setLocalProperty(_JOB_DESC, prev)


def _fit(src: DataFrame, params, grad_fn, step_fn, n_iter: int, name: str) -> list:
    """The training loop shared by the driver-weight trainers.

    Per iteration k (1-based): broadcast ``params``; run
    ``grad_fn(batches, params) -> [(m, i, g), ...]`` once per partition
    of ``src`` (one mapInArrow pass over the partition's Arrow batches);
    sum the partials with :func:`_reduce_partials` and collect them; call
    ``step_fn(rows, k)``, which updates ``params`` in place and returns
    the iteration's loss. ``grad_fn`` must read the weights only from its
    ``params`` argument — anything it closes over ships with every task.
    Returns the per-iteration losses."""
    sc = src.sparkSession.sparkContext
    losses = []
    with _iteration_tags(sc, name, n_iter) as tag:
        for k in range(1, n_iter + 1):
            tag(k)
            bw = sc.broadcast(params)
            try:
                def part(batches):
                    yield _partials_batch(grad_fn(batches, bw.value))

                rows = _reduce_partials(src.mapInArrow(part, _PARTIALS)).collect()
            finally:
                bw.destroy()
            losses.append(step_fn(rows, k))
    return losses


def _sgns_table(
    pairs: DataFrame, input_col: str, context_col: str, negs_col: str
) -> DataFrame:
    """(t, c, n) long word ids; a null negatives list becomes []."""
    return pairs.select(
        F.col(input_col).cast("long").alias("t"),
        F.col(context_col).cast("long").alias("c"),
        F.coalesce(
            F.col(negs_col).cast("array<long>"), F.array().cast("array<long>")
        ).alias("n"),
    )


def _sgns_grad(batches, unpack) -> list:
    """SGNS gradient of one partition's pairs as (m, i, g) partial rows.

    ``unpack(batch)`` returns ``(tk, ck, nk, lens, u, v, vn)``: the
    input, context and flattened negative word keys, each pair's
    negative count, and the matching input-, context- and
    negative-vector matrices. Rows: m=0 input-matrix and m=1
    output-matrix gradient sums per touched key, m=2 [loss sum, pair
    count]."""
    gi: dict[int, np.ndarray] = {}
    go: dict[int, np.ndarray] = {}
    loss = 0.0
    cnt = 0
    for b in batches:
        if not b.num_rows:
            continue
        tk, ck, nk, lens, u, v, vn = unpack(b)
        cnt += b.num_rows
        s_pos = _sigmoid((u * v).sum(axis=1))
        loss += float(-np.log(np.maximum(s_pos, 1e-12)).sum())
        coef = (s_pos - 1.0)[:, None]
        _acc(gi, tk, coef * v)
        _acc(go, ck, coef * u)
        if len(nk):
            ridx = np.repeat(np.arange(len(tk)), lens)
            utn = u[ridx]
            s_neg = _sigmoid((utn * vn).sum(axis=1))
            loss += float(-np.log(np.maximum(1.0 - s_neg, 1e-12)).sum())
            coef_n = s_neg[:, None]
            _acc(gi, tk[ridx], coef_n * vn)
            _acc(go, nk, coef_n * utn)
    return (
        [(0, k, g) for k, g in gi.items()]
        + [(1, k, g) for k, g in go.items()]
        + [(2, 0, [loss, float(cnt)])]
    )


def skipgram_fit(
    pairs: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 1.0,
    seed: int = 13,
    input_col: str = "input_h3",
    context_col: str = "context_h3",
    negs_col: str = "neg_h3s",
    init: str = "position",
) -> tuple[np.ndarray, np.ndarray, list[float]]:
    """Train SGNS embeddings over a (input, context, negatives) table.

    Returns (vocab cell ids (V,), input embeddings (V, dim) float64,
    per-iteration mean losses). Negatives may be null/empty (rows then
    contribute only the positive term, like the reference's dataset
    rows whose exclusion ring ate all candidates).

    ``init='position'`` (default) draws the whole V x dim init from one
    seeded stream over the sorted vocabulary; ``init='hash'``
    initializes each row from its WORD ID (:func:`_hash_init_row`) —
    position-independent, and bit-identical to
    :func:`skipgram_fit_sharded`'s executor-side init, which is how the
    dense and sharded paths are trajectory-compared.
    """
    data = _sgns_table(pairs, input_col, context_col, negs_col).localCheckpoint(
        eager=True
    )  # scanned n_iter times
    # vocabulary = distinct cells on either side (dimension-sized),
    # sorted so executors map ids to rows with searchsorted
    vocab_rows = (
        data.select(F.col("t").alias("h3"))
        .union(data.select("c"))
        .union(data.select(F.explode("n")))
        .distinct()
        .orderBy("h3")
        .collect()
    )
    vocab = np.array([r["h3"] for r in vocab_rows], dtype=np.int64)
    V = len(vocab)
    if V == 0:
        return vocab, np.zeros((0, dim)), []

    if init == "hash":
        w_in = np.stack([_hash_init_row(seed, int(h), dim) for h in vocab])
    elif init == "position":
        rng = np.random.default_rng(seed)
        w_in = (rng.standard_normal((V, dim)) / np.sqrt(dim)) * 0.1
    else:
        raise ValueError(f"init must be position|hash, got {init!r}")
    w_out = np.zeros((V, dim))

    def grad_fn(batches, params):
        voc, wi, wo = params

        def unpack(b):
            t = np.searchsorted(voc, b.column(0).to_numpy())
            c = np.searchsorted(voc, b.column(1).to_numpy())
            n = b.column(2)
            nk = np.searchsorted(voc, n.flatten().to_numpy())
            lens = pc.list_value_length(n).to_numpy()
            return t, c, nk, lens, wi[t], wo[c], wo[nk]

        return _sgns_grad(batches, unpack)

    def step(rows, _k):
        grads = (np.zeros_like(w_in), np.zeros_like(w_out))
        for r in rows:
            if r["m"] <= 1:
                grads[r["m"]][r["i"]] = np.asarray(r["g"])
            else:
                loss, n_rows = r["g"][0], int(r["g"][1])
        for w, g in zip((w_in, w_out), grads):
            w -= (lr / n_rows) * g
        return loss / n_rows

    losses = _fit(data, (vocab, w_in, w_out), grad_fn, step, n_iter, "skipgram_fit")
    return vocab, w_in, losses


def skipgram_fit_sharded(
    pairs: DataFrame,
    dim: int = 16,
    n_iter: int = 10,
    lr: float = 1.0,
    seed: int = 13,
    input_col: str = "input_h3",
    context_col: str = "context_h3",
    negs_col: str = "neg_h3s",
    batch_fraction: float | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
) -> tuple[DataFrame, list[float]]:
    """SGNS trainer with CLUSTER-RESIDENT weights.

    :func:`skipgram_fit` keeps the V x dim weight matrices on the
    driver and broadcasts them per iteration — optimal while they fit
    one process (the reference's ~10^5-hex operating point) but a hard
    ceiling beyond it (a global res-9 corpus from a 10^12-image table
    is ~10^8 cells -> ~25 GB of weights on the driver and over the
    wire every iteration). This path removes the ceiling: weights live
    as a ``(m, key, vec)`` DataFrame (m=0 input matrix, m=1 output
    matrix, key = the raw cell id — no driver-side vocabulary index at
    all) and every step is expressed as joins:

      1. STATIC ``touch`` skeleton, built once and checkpointed:
         ``(rid, m, key, role)`` — one row per weight row a pair
         needs (role 0 = input word, 1 = context, 2 = negative).
         Hash-partitioned + sorted by (m, key) at rest so the
         per-iteration weights join reuses its layout.
      2. Per iteration: ``touch`` JOIN ``weights`` on (m, key) — only
         the V-sized weights side shuffles — then one pairs-scale
         groupBy(rid) reassembles each pair's vectors, a mapInArrow
         pass runs the shared SGNS gradient (:func:`_sgns_grad`),
         and :func:`_reduce_partials` combines the partials
         cluster-side exactly as the dense path does.
      3. The summed gradient (<= 2V rows) LEFT-JOINs back onto the
         weights DataFrame for the step — the driver only ever
         collects the 1-row loss/count aggregate.

    Honest cost statement: the ceiling is bought with ONE extra
    pairs-scale shuffle per iteration (the groupBy(rid) reassembly;
    the dense path's pairs table never shuffles). Use the dense path
    while V x dim fits comfortably in executor memory; switch here
    when it doesn't, and use ``batch_fraction`` (deterministic
    per-iteration xxhash64 row sampling — no extra scan, no join) so
    an iteration need not pay that shuffle over ALL pairs.

    Initialization is :func:`_hash_init_row` per (m=0) row — byte-equal
    to ``skipgram_fit(init='hash')``, so at small V the two paths
    produce the same loss trajectory to float-reduction-order
    tolerance (pinned by tests/test_embed.py::TestShardedSkipgram).

    ``checkpoint_dir``/``checkpoint_every``: see
    :class:`~hex2vec_spark.operators.ckpt.Checkpointer` — reliable
    fault-tolerant checkpoints every k-th lineage cut for multi-hour
    cluster runs; default is executor-local only.

    Returns ``(weights DataFrame (m, key, vec), per-iteration mean
    losses)``; :func:`sharded_embeddings` projects out the (h3,
    embedding) table.
    """
    from .ckpt import Checkpointer

    spark = pairs.sparkSession
    ckpt = Checkpointer(spark, checkpoint_dir, checkpoint_every)

    base = _sgns_table(pairs, input_col, context_col, negs_col).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    touch = base.select(
        "rid",
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.lit(0).alias("m"),
                        F.col("t").alias("key"),
                        F.lit(0).alias("role"),
                    ),
                    F.struct(
                        F.lit(1).alias("m"),
                        F.col("c").alias("key"),
                        F.lit(1).alias("role"),
                    ),
                ),
                F.transform(
                    "n",
                    lambda x: F.struct(
                        F.lit(1).alias("m"),
                        x.alias("key"),
                        F.lit(2).alias("role"),
                    ),
                ),
            )
        ).alias("w"),
    ).select("rid", "w.m", "w.key", "w.role")
    # at-rest layout: co-partition + sort on the join keys so each
    # iteration's weights join reuses it (checkpoint preserves output
    # partitioning/ordering); the pair table itself is scanned every
    # iteration — keep it durable when a reliable dir is available
    touch = ckpt.reliable(
        touch.repartition("m", "key").sortWithinPartitions("m", "key"), eager=True
    )
    n_rows = touch.where(F.col("role") == 0).count()
    if n_rows == 0:
        empty = spark.createDataFrame([], "m int, key long, vec array<double>")
        return empty, []

    wseed = int(seed)

    def init_fn(batches):
        for b in batches:
            m, key = b.column("m"), b.column("key")
            vec = np.zeros((b.num_rows, dim))
            keys = key.to_numpy()
            for r in np.flatnonzero(m.to_numpy() == 0):
                vec[r] = _hash_init_row(wseed, int(keys[r]), dim)
            yield pa.RecordBatch.from_arrays(
                [m, key, _lists(vec.ravel(), np.full(b.num_rows, dim))],
                names=["m", "key", "vec"],
            )

    # full vocabulary x both matrices, initialized EXECUTOR-SIDE — the
    # driver never materializes V rows, let alone V x dim floats
    vocab_df = touch.select("key").distinct()
    weights = (
        vocab_df.crossJoin(spark.createDataFrame([(0,), (1,)], "m int"))
        .repartition("m", "key")
        .mapInArrow(init_fn, "m int, key long, vec array<double>")
    )
    weights = ckpt.reliable(weights, eager=True)

    def unpack(b):
        negs = b.column("negs")
        nk, nv = negs.flatten().flatten()
        return (
            b.column("tk").to_numpy(),
            b.column("ck").to_numpy(),
            nk.to_numpy(),
            pc.list_value_length(negs).to_numpy(),
            _matrix(b.column("tu"), dim),
            _matrix(b.column("cv"), dim),
            _matrix(nv, dim),
        )

    def grad_part(batches):
        yield _partials_batch(_sgns_grad(batches, unpack))

    losses: list[float] = []
    with _iteration_tags(spark.sparkContext, "skipgram_fit_sharded", n_iter) as tag:
        for it in range(n_iter):
            tag(it + 1)
            touch_it = touch
            if batch_fraction is not None:
                # deterministic per-iteration row sample keyed on rid: the
                # SAME pairs are kept across all of a row's touch entries,
                # no join and no second scan to draw the batch
                touch_it = touch.where(
                    F.pmod(
                        F.xxhash64(F.col("rid"), F.lit(int(seed)), F.lit(it)),
                        F.lit(1_000_000),
                    )
                    < F.lit(int(batch_fraction * 1_000_000))
                )
            j = touch_it.join(weights, ["m", "key"])
            asm = j.groupBy("rid").agg(
                F.max(F.when(F.col("role") == 0, F.col("key"))).alias("tk"),
                F.first(F.when(F.col("role") == 0, F.col("vec")), ignorenulls=True).alias("tu"),
                F.max(F.when(F.col("role") == 1, F.col("key"))).alias("ck"),
                F.first(F.when(F.col("role") == 1, F.col("vec")), ignorenulls=True).alias("cv"),
                F.collect_list(
                    F.when(F.col("role") == 2, F.struct("key", "vec"))
                ).alias("negs"),
            )
            partials = asm.mapInArrow(grad_part, _PARTIALS)
            summed = _reduce_partials(partials).localCheckpoint(eager=True)
            loss, cnt = summed.where(F.col("m") == 2).first()["g"]
            n_eff = max(int(cnt) if batch_fraction is not None else n_rows, 1)
            grads = summed.where(F.col("m") <= 1).select(
                "m", F.col("i").alias("key"), F.col("g").alias("_g")
            )
            step = float(lr / n_eff)
            weights = (
                weights.join(grads, ["m", "key"], "left")
                .select(
                    "m",
                    "key",
                    F.when(F.col("_g").isNull(), F.col("vec"))
                    .otherwise(
                        F.zip_with("vec", "_g", lambda u_, g_: u_ - F.lit(step) * g_)
                    )
                    .alias("vec"),
                )
            )
            weights = ckpt(weights, eager=True)
            losses.append(loss / n_eff)
    return weights, losses


def sharded_embeddings(weights: DataFrame, h3_col: str = "h3") -> DataFrame:
    """Project a sharded trainer's weight table to (h3, embedding) —
    the input-matrix rows, the same table :func:`embeddings_table`
    builds from the dense path's arrays."""
    return weights.where(F.col("m") == 0).select(
        F.col("key").alias(h3_col), F.col("vec").alias("embedding")
    )


def _reduce_partials(partials: DataFrame, dim: int | None = None) -> DataFrame:
    """Cluster-side gradient combine: one summed row per (matrix, word).

    Input: (m, i, g) — at most one row per (m, i) per partition (the
    grad_part generator accumulates per-partition dicts). Output: one
    row per (m, i), g = element-wise sum of the partials in PARTITION-ID
    order (array_sort on struct<p, g> — p is distinct per key, so the
    order is total and float addition is deterministic for a fixed
    partitioning). The driver-facing row count is bounded by the number
    of distinct (m, i) keys independent of partition count
    (tests/test_embed.py bound test). ``dim`` pins the vector length;
    None derives it per key from the first partial (keys may then carry
    different lengths — the autoencoder's per-layer weight shapes).
    """
    zeros = (
        F.array_repeat(F.lit(0.0), dim)
        if dim is not None
        else F.array_repeat(F.lit(0.0), F.size(F.element_at("ps", 1)["g"]))
    )
    return (
        partials.withColumn("p", F.spark_partition_id())
        .groupBy("m", "i")
        .agg(F.array_sort(F.collect_list(F.struct("p", "g"))).alias("ps"))
        .select(
            "m", "i",
            F.aggregate(
                "ps",
                zeros,
                lambda acc, x: F.zip_with(acc, x["g"], lambda u, v: u + v),
            ).alias("g"),
        )
    )


def _acc(d: dict, idx: np.ndarray, grads: np.ndarray) -> None:
    """Sparse accumulate: sum gradient rows per word index."""
    uniq, inv = np.unique(idx, return_inverse=True)
    summed = np.zeros((len(uniq), grads.shape[1]))
    np.add.at(summed, inv, grads)
    for k, row in zip(uniq, summed):
        cur = d.get(int(k))
        if cur is None:
            d[int(k)] = row.copy()
        else:
            cur += row


def _coder_init(sizes: list[int], seed: int, decoder: bool) -> tuple[list, ...]:
    """(enc_w, enc_b, dec_w, dec_b): an encoder over ``sizes`` and, if
    ``decoder``, its mirror. Weights N(0, 1/fan_in) drawn from one
    seeded stream, encoder layers first; biases zero."""
    enc = list(zip(sizes[:-1], sizes[1:]))
    dec = [(o, i) for i, o in enc][::-1] if decoder else []
    rng = np.random.default_rng(seed)
    ws = [rng.standard_normal((i, o)) / np.sqrt(i) for i, o in enc + dec]
    bs = [np.zeros(o) for _, o in enc + dec]
    return ws[: len(enc)], bs[: len(enc)], ws[len(enc):], bs[len(enc):]


def _adam(params: list, lr: float):
    """Return ``step(grads, t)``: one in-place Adam update (torch
    defaults b1=0.9, b2=0.999, eps=1e-8) of ``params`` at step t."""
    b1, b2, eps = 0.9, 0.999, 1e-8
    m = [np.zeros_like(p) for p in params]
    v = [np.zeros_like(p) for p in params]

    def step(grads: list, t: int) -> None:
        for k, (p, g) in enumerate(zip(params, grads)):
            m[k] = b1 * m[k] + (1 - b1) * g
            v[k] = b2 * v[k] + (1 - b2) * g * g
            mh = m[k] / (1 - b1 ** t)
            vh = v[k] / (1 - b2 ** t)
            p -= lr * mh / (np.sqrt(vh) + eps)

    return step


def _tensor_rows(grads: list, loss_terms: list) -> list:
    """Partial rows for dense parameters: m = the tensor's position in
    ``grads``, then one row of loss terms."""
    return [(m, 0, g) for m, g in enumerate(grads)] + [(len(grads), 0, loss_terms)]


def autoencoder_fit(
    feats: DataFrame,
    sizes: list[int],
    n_iter: int = 40,
    lr: float = 1e-3,
    seed: int = 17,
    id_col: str = "h3",
    vec_col: str = "features",
) -> tuple[DataFrame, list[float]]:
    """Distributed autoencoder embedder — the reference's SECOND
    embedding method (src/models/autoencoder.py:1-56: stacked
    Linear+ReLU encoder/decoder, MSE reconstruction, Adam(1e-3)).

    ``sizes`` mirrors the reference ctor: [D, d] is the linear AE
    (single Linear each way — create_layers puts ReLU after every layer
    but the last, so a 1-layer coder is linear); [D, h, d] adds a ReLU
    hidden layer in both coder halves (decoder mirrored, reference
    autoencoder.py:21-27).

    Trained by :func:`_fit`: each partition emits the summed squared
    error's per-tensor gradients over ITS rows and the driver applies
    one Adam step on the (layers x D x h)-sized weights. Returns ((id,
    embedding) DataFrame — :func:`encode_features` over the rows
    trained on — and the per-iteration MSE losses).
    """
    src = feats.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("x")
    ).localCheckpoint(eager=True)  # scanned n_iter+1 times
    n_rows = src.count()
    if n_rows == 0:
        return src.select("id", F.col("x").alias("embedding")), []
    D = sizes[0]
    denom = float(n_rows * D)  # MSE normalizer (mean over elements)
    ew, eb, dw, db = _coder_init(sizes, seed, decoder=True)
    params = [*ew, *eb, *dw, *db]
    adam = _adam(params, lr)

    def grad_fn(batches, p):
        ews, ebs, dws, dbs = p
        gew, geb, gdw, gdb = ([np.zeros_like(a) for a in x] for x in p)
        sse = 0.0
        for b in batches:
            if not b.num_rows:
                continue
            X = _matrix(b.column("x"), D)
            ae = _stack_fwd(X, ews, ebs)
            ad = _stack_fwd(ae[-1], dws, dbs)
            diff = ad[-1] - X
            sse += float((diff * diff).sum())
            # d(sse)/d(xhat) back through the decoder, then the encoder
            _stack_bwd(_stack_bwd(2.0 * diff, ad, dws, gdw, gdb), ae, ews, gew, geb)
        return _tensor_rows([*gew, *geb, *gdw, *gdb], [sse])

    def step(rows, t):
        g = {r["m"]: np.asarray(r["g"]) for r in rows}
        adam([g[k].reshape(q.shape) / denom for k, q in enumerate(params)], t)
        return g[len(params)][0] / denom

    losses = _fit(src, (ew, eb, dw, db), grad_fn, step, n_iter, "autoencoder_fit")
    emb = encode_features(src, {"enc_w": ew, "enc_b": eb}, id_col="id", vec_col="x")
    return emb, losses


def _stack_fwd(X: np.ndarray, ws: list, bs: list) -> list:
    """Forward through a Linear(+ReLU after all but the last layer)
    stack — the reference's create_layers shape (combined.py:11-19,
    autoencoder.py:13-19). Returns the activation list [X, a1, ...]."""
    acts = [X]
    h = X
    for li in range(len(ws)):
        z = h @ ws[li] + bs[li]
        if li != len(ws) - 1:
            z = np.maximum(z, 0.0)
        acts.append(z)
        h = z
    return acts


def _stack_bwd(delta: np.ndarray, acts: list, ws: list, gw: list, gb: list) -> np.ndarray:
    """Backprop dL/d(stack output) through the stack; accumulates
    parameter grads into gw/gb and returns dL/d(stack input)."""
    for li in range(len(ws) - 1, -1, -1):
        if li != len(ws) - 1:
            delta = delta * (acts[li + 1] > 0.0)
        gw[li] += acts[li].T @ delta
        gb[li] += delta.sum(axis=0)
        delta = delta @ ws[li].T
    return delta


def combined_fit(
    triples: DataFrame,
    encoder_sizes: list[int],
    n_iter: int = 30,
    lr: float = 1e-3,
    seed: int = 23,
    xt_col: str = "xt",
    xc_col: str = "xc",
    xn_col: str = "xn",
    recon: bool = True,
) -> tuple[dict, list[dict]]:
    """The reference's HEADLINE model — Combined (src/models/
    combined.py:7-74): a shared MLP encoder over per-hex FEATURE
    VECTORS trained with the skip-gram contrastive objective
    (dot-product scores, BCE-with-logits on positive/negative pairs)
    PLUS a mirrored decoder with MSE reconstruction;
    loss = (BCE_pos + BCE_neg)/2 + (MSE_t + MSE_c + MSE_n)/3,
    Adam(1e-3). ``recon=False`` drops the decoder and reconstruction
    term entirely — exactly BinaryNN (binary_nn.py:10-30), the
    reference's third model.

    Input: triples (xt, xc, xn) of feature vectors — xt/xc the
    neighbor pair, xn a sampled negative (nullable: rows whose
    exclusion ring ate all candidates contribute only the positive and
    reconstruction terms, mirroring H3NeighborDataset's behavior).

    Trained by :func:`_fit`: per-partition dense parameter grads over
    the three shared-encoder streams, driver-side Adam. The triple
    table never shuffles.

    Returns (model dict {enc_w, enc_b, dec_w, dec_b, sizes}, per-iter
    loss dicts {loss, pred, recon}). Encode any features table with
    :func:`encode_features`.
    """
    ew, eb, dw, db = _coder_init(encoder_sizes, seed, decoder=recon)
    model = {"enc_w": ew, "enc_b": eb, "dec_w": dw, "dec_b": db,
             "sizes": encoder_sizes}
    D = encoder_sizes[0]

    src = triples.select(
        F.col(xt_col).cast("array<double>").alias("xt"),
        F.col(xc_col).cast("array<double>").alias("xc"),
        F.col(xn_col).cast("array<double>").alias("xn"),
    ).localCheckpoint(eager=True)  # scanned n_iter times
    n_pos, n_neg = src.agg(F.count(F.lit(1)), F.count("xn")).first()
    if n_pos == 0:
        return model, []
    params = [*ew, *eb, *dw, *db]
    adam = _adam(params, lr)

    def grad_fn(batches, p):
        ews, ebs, dws, dbs = p
        gew, geb, gdw, gdb = ([np.zeros_like(a) for a in x] for x in p)
        bce_pos = bce_neg = sse_t = sse_c = sse_n = 0.0
        for b in batches:
            if not b.num_rows:
                continue
            Xt = _matrix(b.column("xt"), D)
            Xc = _matrix(b.column("xc"), D)
            has_n = b.column("xn").is_valid().to_numpy(zero_copy_only=False)
            at = _stack_fwd(Xt, ews, ebs)
            ac = _stack_fwd(Xc, ews, ebs)
            zt, zc = at[-1], ac[-1]
            s_pos = (zt * zc).sum(axis=1)
            sp = _sigmoid(s_pos)
            bce_pos += float(-np.log(np.maximum(sp, 1e-12)).sum())
            # d(sum BCE_pos)/ds scaled by the GLOBAL mean factors
            g_spos = (sp - 1.0) / (2.0 * n_pos)
            # decoder/reconstruction paths (sum-of-squares form,
            # scaled to torch mse_loss mean-over-elements); skipped
            # wholesale in BinaryNN mode
            if dws:
                ht = _stack_fwd(zt, dws, dbs)
                hc = _stack_fwd(zc, dws, dbs)
                dt = ht[-1] - Xt
                dc = hc[-1] - Xc
                sse_t += float((dt * dt).sum())
                sse_c += float((dc * dc).sum())
                d_zt = _stack_bwd(2.0 * dt / (3.0 * n_pos * D), ht, dws, gdw, gdb)
                d_zc = _stack_bwd(2.0 * dc / (3.0 * n_pos * D), hc, dws, gdw, gdb)
            else:
                d_zt = np.zeros_like(zt)
                d_zc = np.zeros_like(zc)
            d_zt = d_zt + g_spos[:, None] * zc
            d_zc = d_zc + g_spos[:, None] * zt
            if has_n.any():
                Xn = _matrix(b.column("xn"), D)
                an = _stack_fwd(Xn, ews, ebs)
                zn = an[-1]
                s_neg = (zt[has_n] * zn).sum(axis=1)
                sn = _sigmoid(s_neg)
                bce_neg += float(-np.log(np.maximum(1.0 - sn, 1e-12)).sum())
                g_sneg = sn / (2.0 * max(n_neg, 1))
                if dws:
                    hn = _stack_fwd(zn, dws, dbs)
                    dn = hn[-1] - Xn
                    sse_n += float((dn * dn).sum())
                    d_zn = _stack_bwd(
                        2.0 * dn / (3.0 * max(n_neg, 1) * D), hn, dws, gdw, gdb
                    )
                else:
                    d_zn = np.zeros_like(zn)
                d_zn = d_zn + g_sneg[:, None] * zt[has_n]
                d_zt[has_n] += g_sneg[:, None] * zn
                _stack_bwd(d_zn, an, ews, gew, geb)
            _stack_bwd(d_zt, at, ews, gew, geb)
            _stack_bwd(d_zc, ac, ews, gew, geb)
        return _tensor_rows(
            [*gew, *geb, *gdw, *gdb], [bce_pos, bce_neg, sse_t, sse_c, sse_n]
        )

    def step(rows, t):
        g = {r["m"]: np.asarray(r["g"]) for r in rows}
        lv = g[len(params)]
        pred = lv[0] / n_pos / 2.0 + (lv[1] / max(n_neg, 1) / 2.0 if n_neg else 0.0)
        rec = (
            (lv[2] + lv[3]) / (3.0 * n_pos * D)
            + (lv[4] / (3.0 * n_neg * D) if n_neg else 0.0)
        ) if dw else 0.0
        adam([g[k].reshape(q.shape) for k, q in enumerate(params)], t)
        return {"loss": pred + rec, "pred": pred, "recon": rec}

    losses = _fit(src, (ew, eb, dw, db), grad_fn, step, n_iter, "combined_fit")
    return model, losses


def encode_features(
    feats: DataFrame,
    model: dict,
    id_col: str = "h3",
    vec_col: str = "features",
) -> DataFrame:
    """Encode a features table through a trained encoder (``model``'s
    enc_w/enc_b; broadcast weights, one mapInArrow pass) -> (id,
    embedding)."""
    spark = feats.sparkSession
    bw = spark.sparkContext.broadcast((model["enc_w"], model["enc_b"]))
    src = feats.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("x")
    )

    def enc_part(batches):
        ws, bs = bw.value
        for b in batches:
            h = _stack_fwd(_matrix(b.column("x"), ws[0].shape[0]), ws, bs)[-1]
            yield pa.RecordBatch.from_arrays(
                [b.column("id"), _lists(h.ravel(), np.full(len(h), h.shape[1]))],
                names=["id", "embedding"],
            )

    return src.mapInArrow(
        enc_part, f"id {src.schema['id'].dataType.simpleString()}, embedding array<double>"
    )


def embeddings_table(
    spark: SparkSession, vocab: np.ndarray, w: np.ndarray, h3_col: str = "h3"
) -> DataFrame:
    """Materialize trained embeddings as a (h3, embedding) DataFrame —
    the table every downstream reference query (kNN probes, KMeans,
    interpolation) consumes (cluster-word2vec.ipynb cells 28+)."""
    pdf = pd.DataFrame(
        {h3_col: vocab.astype(np.int64), "embedding": [r.tolist() for r in np.asarray(w, dtype=np.float64)]}
    )
    return spark.createDataFrame(pdf)
