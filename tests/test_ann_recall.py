"""ANN recall@k vs the brute-force baseline (VERDICT r1 item 6):
single-bucket LSH loses recall; multi-probe (≤1-bit neighborhood) must
recover it.  Asserted bounds are the component's contract — bench
numbers without a recall floor are meaningless for ANN."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from sagan_spark.datapipe import similarity
from sagan_spark.datapipe.similarity import (
    brute_force_topk,
    ivf_cells,
    ivf_topk,
    load_embeddings,
    lsh_multiprobe_topk,
    lsh_topk,
)

from .conftest import SF_DIR


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_multiprobe_recall_floor(spark):
    emb = load_embeddings(spark, SF_DIR)
    brute = _pairs(brute_force_topk(emb))
    single = _pairs(lsh_topk(emb))
    multi = _pairs(lsh_multiprobe_topk(emb))
    assert brute, "brute-force baseline empty"
    r_single = len(brute & single) / len(brute)
    r_multi = len(brute & multi) / len(brute)
    # multi-probe must not lose ground and must clear the floor
    assert r_multi >= r_single, (r_single, r_multi)
    assert r_multi >= 0.6, f"multi-probe recall@5 = {r_multi:.2f}"


def test_ivf_partition_and_recall(spark):
    emb = load_embeddings(spark, SF_DIR)
    # every corpus vector lands in exactly one cell, cells are centroids
    cells = ivf_cells(emb)
    n = emb.count()
    assert cells.count() == n
    cents = {r["cell"] for r in cells.select("cell").distinct().collect()}
    assert cents <= {i for i in range(0, n, 32)}, "cell ids must be centroid ids"
    assert len(cents) > 1, "degenerate single-cell partition"
    # recall floor: near-random vectors are IVF's worst case (neighbors
    # spread uniformly over cells ⇒ recall ≈ probed mass).  nprobe=6 of
    # ~16 cells ⇒ floor at 0.2; clustered production corpora sit far
    # higher.  Measured at sf0.01: see BASELINE.md.
    brute = _pairs(brute_force_topk(emb))
    ivf = _pairs(ivf_topk(emb))
    r_ivf = len(brute & ivf) / len(brute)
    assert r_ivf >= 0.2, f"ivf recall@5 = {r_ivf:.2f}"
    # k-means training must not lose recall vs the untrained stride
    # sample it initializes from (VERDICT r3 item 6 done-criterion)
    stride = _pairs(ivf_topk(emb, train_iters=0))
    r_stride = len(brute & stride) / len(brute)
    assert r_ivf >= r_stride, (
        f"trained recall {r_ivf:.2f} < stride baseline {r_stride:.2f}"
    )


def test_ivf_retrains_after_in_place_rewrite(spark, monkeypatch, tmp_path, memo_store):
    """The centroid memo is keyed on the input files' content: a file
    rewritten in place with different vectors (same path, same plan
    semantic hash) must retrain and serve the new centroids."""
    trained = []
    real = similarity.trained_centroids

    def counting(emb, iters):
        trained.append(iters)
        return real(emb, iters)

    monkeypatch.setattr(similarity, "trained_centroids", counting)
    path = str(tmp_path / "embeddings.parquet")
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")

    def run(tbl):
        pq.write_table(tbl, path)
        emb = spark.read.parquet(path)
        ivf_topk(emb).collect()
        # a memo hit: the centroids ivf_topk served
        return sorted(tuple(r) for r in similarity._materialized_centroids(emb).collect())

    first = run(table)
    assert len(trained) == 1
    # every vector moves to the next vec_id: new centroids
    vecs = table.column("embedding")
    rotated = pa.chunked_array(vecs.slice(1).chunks + vecs.slice(0, 1).chunks)
    col = table.schema.get_field_index("embedding")
    second = run(table.set_column(col, "embedding", rotated))
    assert len(trained) == 2
    fresh = sorted(
        tuple(r) for r in real(spark.read.parquet(path), similarity.KMEANS_ITERS).collect()
    )
    assert second == fresh != first
