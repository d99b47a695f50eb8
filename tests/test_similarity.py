"""ANN similarity search over the driver embeddings table."""

import duckdb
import numpy as np
import pytest

from pcornet_data_curation_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    query_bucket,
    with_lsh_bucket,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def query(emb):
    row = emb.orderBy("vec_id").first()
    return [float(x) for x in row["embedding"]]


def test_brute_force_topk_vs_numpy(spark, emb, query):
    got = brute_force_topk(emb, query, k=10).toPandas()
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    q = np.array(query)
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(zip(-cos.round(6), pdf["vec_id"]))[:10]
    want_ids = [int(v) for _, v in order]
    assert got["vec_id"].tolist() == want_ids
    assert got["cosine"].iloc[0] == pytest.approx(1.0, abs=1e-5)  # query ∈ table


def test_brute_force_topk_vs_duckdb(spark, emb, query):
    got = brute_force_topk(emb, query, k=5).toPandas()
    qlit = "[" + ",".join(str(x) for x in query) + "]"
    want = duckdb.sql(
        f"""select vec_id, round(list_cosine_similarity(embedding::DOUBLE[], {qlit}::DOUBLE[]), 6) cosine
            from '{SF}/embeddings.parquet'
            order by cosine desc, vec_id limit 5"""
    ).df()
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert got["cosine"].tolist() == pytest.approx(want["cosine"].tolist(), abs=1e-5)


def test_lsh_topk_prunes_and_recalls(spark, emb, query):
    bucketed = with_lsh_bucket(emb, dim=len(query), n_planes=6)
    probed_n = lsh_topk(bucketed, query, k=5, n_planes=6, max_hamming=1).count()
    assert 0 < probed_n <= 5
    # the query vector itself is in the table → must be found (hamming 0 bucket)
    top = lsh_topk(bucketed, query, k=1, n_planes=6, max_hamming=0).toPandas()
    assert top["cosine"].iloc[0] == pytest.approx(1.0, abs=1e-5)
    # bucket of the query matches the bucketing of the identical stored vector
    qb = query_bucket(query, 6)
    stored = bucketed.orderBy("vec_id").first()["lsh_bucket"]
    assert stored == qb


def test_ivf_topk_recall(spark):
    import numpy as np
    from pcornet_data_curation_spark.operators.similarity import (
        brute_force_topk,
        ivf_fit,
        ivf_topk,
        with_ivf_cell,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    row = emb.where("vec_id = 7").select("embedding").first()
    query = [float(x) for x in row["embedding"]]

    cents = ivf_fit(emb, n_centroids=16)
    assert cents.shape[1] == 64
    # deterministic: fitting twice gives identical centroids
    assert np.array_equal(cents, ivf_fit(emb, n_centroids=16))

    cells = with_ivf_cell(emb, cents)
    dist = cells.groupBy("ivf_cell").count().toPandas()
    assert len(dist) >= 8  # quantizer actually separates the space

    exact = set(brute_force_topk(emb, query, k=10).toPandas()["vec_id"])

    def recall(n_probe):
        got = set(ivf_topk(cells, query, cents, k=10, n_probe=n_probe).toPandas()["vec_id"])
        return len(exact & got) / 10.0, got

    r1, got1 = recall(1)
    r4, got4 = recall(4)
    # probing more cells can only widen the candidate set
    assert r4 >= r1
    assert r4 >= 0.6  # measured 0.7 on this fixture; floor with margin
    assert 7 in got1  # the query's own cell is always probed first


def test_ivf_fit_sample_bounded(spark):
    """The fit sample reaching the driver is capped at max_sample rows
    no matter how large the table is (VERDICT r1 item 2: the old
    `id % 7` filter pulled n/7 rows — unbounded at 10^12)."""
    from pcornet_data_curation_spark.operators.similarity import (
        ivf_fit,
        ivf_fit_sample,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    n = emb.count()
    cap = 50
    assert n > 7 * cap  # table big enough that the old scheme would exceed cap
    sample = ivf_fit_sample(emb, max_sample=cap)
    assert 0 < len(sample) <= cap
    # stride sizing keeps the sample near (not just under) the cap
    assert len(sample) >= cap // 4
    # bounded fit still yields a usable, deterministic quantizer
    c1 = ivf_fit(emb, n_centroids=8, max_sample=cap)
    c2 = ivf_fit(emb, n_centroids=8, max_sample=cap)
    assert c1.shape == (8, 64)
    assert np.array_equal(c1, c2)


def test_ivf_fit_sample_deterministic_and_pandas_twin(spark):
    """Two invariants behind the ivf_topk value-hash oracle:
    1. the Spark fit sample is order-deterministic — (hash, id)-sorted
       truncation, not 'whichever partition arrives first' (ADVICE r2:
       the old trailing .limit depended on file layout);
    2. the sessionless pandas twin reproduces the sample EXACTLY
       (same rows, same order, same float64 values), so the oracle
       refits bit-identical centroids without a SparkSession."""
    from pcornet_data_curation_spark.operators.similarity import (
        ivf_fit,
        ivf_fit_pandas,
        ivf_fit_sample,
        ivf_fit_sample_pandas,
    )

    path = "/root/testdata/sf0.01/embeddings.parquet"
    emb = spark.read.parquet(path)
    s1 = ivf_fit_sample(emb, max_sample=40)
    # repartitioned input → different partition layout → same sample
    s2 = ivf_fit_sample(emb.repartition(13), max_sample=40)
    m1 = np.vstack(s1.iloc[:, 0].to_numpy()).astype(np.float64)
    m2 = np.vstack(s2.iloc[:, 0].to_numpy()).astype(np.float64)
    assert np.array_equal(m1, m2)
    mp = ivf_fit_sample_pandas(path, max_sample=40)
    assert np.array_equal(m1, mp)
    # end-to-end: sessionless refit is bit-identical
    assert np.array_equal(
        ivf_fit(emb, n_centroids=8, max_sample=40),
        ivf_fit_pandas(path, n_centroids=8, max_sample=40),
    )


def test_ivf_cell_fold_matches_jvm_exact(spark):
    """The fold-ordered pandas-UDF assignment (fast path used by the
    registry query) is bit-identical to the pure-JVM fold twin — same
    left-to-right IEEE arithmetic, so either side can back the DuckDB
    oracle."""
    from pcornet_data_curation_spark.operators.similarity import (
        ivf_fit,
        with_ivf_cell_exact,
        with_ivf_cell_fold,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf_fit(emb, n_centroids=16)
    a = with_ivf_cell_exact(emb, cents).select("vec_id", "ivf_cell").toPandas()
    b = with_ivf_cell_fold(emb, cents).select("vec_id", "ivf_cell").toPandas()
    a = a.sort_values("vec_id").reset_index(drop=True)
    b = b.sort_values("vec_id").reset_index(drop=True)
    assert a["ivf_cell"].tolist() == b["ivf_cell"].tolist()


def test_ivf_partitioned_table_prunes_scan(spark, tmp_path):
    """The IVF probe on a table written partitionBy('ivf_cell') becomes
    PARTITION PRUNING at the scan — the physical plan's PartitionFilters
    carries the isin(probe cells) predicate, so a 10^12-row store reads
    only the probed cells' files."""
    from pcornet_data_curation_spark.operators.similarity import (
        ivf_fit,
        ivf_topk,
        with_ivf_cell,
    )

    from pyspark.sql import functions as F

    from pcornet_data_curation_spark.operators.similarity import ivf_probe_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_fit(emb, n_centroids=8)
    path = str(tmp_path / "ivf_store")
    with_ivf_cell(emb, cents).write.partitionBy("ivf_cell").parquet(path)
    store = spark.read.parquet(path)
    q = [1.0] * 64
    topk = ivf_topk(store, q, cents, k=5, n_probe=2)
    plan = topk._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "ivf_cell" in pf[0]  # pruning predicate reached the scan
    got = topk.toPandas()
    assert len(got) == 5
    # the probe reads ONLY the n_probe cells' files: every file feeding
    # the probed scan lives under one of the two probed ivf_cell= dirs
    probe = ivf_probe_cells(cents, q, 2)
    files = (
        store.where(F.col("ivf_cell").isin(probe))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .toPandas()["f"]
    )
    assert len(files) > 0
    assert all(any(f"ivf_cell={c}/" in f for c in probe) for f in files)
    # and the store exposes every cell, so the probe subset is strict
    all_cells = {r["ivf_cell"] for r in store.select("ivf_cell").distinct().collect()}
    assert len(all_cells) > 2
