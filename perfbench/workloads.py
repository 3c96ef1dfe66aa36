"""The benchmark's workloads: generated input sizes, the registry jobs each
one runs in order, and how each job's result is written.

A job spec is `name` (noop sink), `name@parquet` (GraftIO.storeParquet) or
`name@partitioned:<col>` (GraftIO.storePartitionedParquet on that column).
Every workload gets every table, so each layer probe can run on each
workload; `primary` names the tables its jobs read, whose bytes on disk
are the input size behind `throughput_mb_s`.
"""

STAR_TABLES = ["lineitem", "orders", "customer", "part", "supplier", "nation", "region"]

WORKLOADS = {
    # Per-document text kernels dominate and exchanges are light; the
    # corpus is one parquet file of two row groups, so split parallelism
    # (exec.core_util) is the other lever. The minhash job keeps the dedup
    # operators' exchange and self-join on an end-to-end path.
    "curate_long": {
        "docs": {"n": 1000, "kind": "long", "files": 1, "row_groups": 2,
                 "min_chars": 600, "max_chars": 1200,
                 "exact_dup_frac": 0.02, "near_dup_frac": 0.03},
        "embeddings": {"n": 400, "files": 1},
        "events": {"n": 4000, "users": 200, "files": 1},
        "star_scale": 0.02, "star_files": 1,
        "primary": ["documents"],
        "jobs": ["q_pipeline@parquet", "q_lm_score", "q_oov_rate", "q_bpe_bytes",
                 "q_contamination_bloom", "q_entropy", "q_dedup_exact",
                 "q_dedup_minhash"],
    },
    # The PigPen surface (Flow/Fold) plus scan-join-aggregate and a
    # partitioned write path, with no text kernels: a kernel change should
    # not move it, a sources or exchange change should.
    "relational_etl": {
        "docs": {"n": 800, "kind": "short", "files": 1, "row_groups": 1,
                 "min_words": 30, "max_words": 70,
                 "exact_dup_frac": 0.01, "near_dup_frac": 0.05},
        "embeddings": {"n": 400, "files": 1},
        "events": {"n": 60000, "users": 600, "files": 4},
        "star_scale": 0.2, "star_files": 4,
        "primary": STAR_TABLES + ["events"],
        "jobs": ["q_cogroup@parquet", "q_fold_avg@partitioned:l_returnflag",
                 "q_group_stats@partitioned:o_orderpriority", "q_reduce@parquet",
                 "q_q1@partitioned:l_returnflag",
                 "q_revenue_by_nation@partitioned:n_name", "q_sessionize@parquet"],
    },
}


def job_name(spec):
    return spec.split("@", 1)[0]


def all_job_names():
    names = []
    for w in WORKLOADS.values():
        for spec in w["jobs"]:
            if job_name(spec) not in names:
                names.append(job_name(spec))
    return names
