"""The curation pipeline: the examples/curation_pipeline.py chain over a
seeded corpus, plus a semantic near-dup stage over embeddings. Traced
``olap`` runs execute it once to measure its layers.

The chain is written once. ``stage(name, fn)`` wraps each step: with
tracing on it opens a span and materializes the step's result at the
span boundary, so each stage's jobs are attributed to it; with tracing
off it only calls ``fn`` and the lazy chain runs as the example writes it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.trace import Tracer

# stage counts and output digest of earlier runs, by seed
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_curation.json")

# names of the spans the traced run records, in chain order
STAGES = (
    "functions.text.normalize",
    "operators.pipeline.quality_filter",
    "operators.pipeline.redact_pii",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.ngram_jaccard_pairs",
    "operators.graph.connected_components",
    "operators.dedup.dedup_substrings",
    "operators.pipeline.contamination_overlap",
    "operators.pipeline.domain_mix",
    "operators.pipeline.pack_sequences",
    "operators.relational.global_index",
    "sink.parquet_write",
    "operators.similarity.near_dup_pairs",
)


def run_chain(spark, data_dir: str, out_dir: str, tracer: Tracer) -> dict:
    """One pipeline run. Returns the stage counts and the frames the
    output checks read."""
    from min_flink_spark.functions.text import normalize_whitespace, strip_html, token_count
    from min_flink_spark.operators.dedup import (
        dedup_substrings,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from min_flink_spark.operators.graph import connected_components
    from min_flink_spark.operators.pipeline import (
        cap_per_group,
        contamination_overlap,
        domain_mix,
        pack_sequences,
        quality_filter,
        redact_pii,
    )
    from min_flink_spark.operators.relational import global_index
    from min_flink_spark.operators.similarity import near_dup_pairs

    stage = tracer.stage
    raw = spark.read.parquet(f"{data_dir}/documents.parquet")
    docs = raw.select("doc_id", "text")
    n0 = docs.count()

    docs = stage("functions.text.normalize", lambda: docs.withColumn(
        "text", normalize_whitespace(strip_html(F.col("text")))))
    kept = stage("operators.pipeline.quality_filter", lambda: quality_filter(docs)
                 .filter("keep").select("doc_id", "text"))
    n1 = kept.count()
    clean = stage("operators.pipeline.redact_pii",
                  lambda: redact_pii(kept).select("doc_id", "text"))
    exact = stage("operators.dedup.exact_dedup", lambda: exact_dedup(clean, "text", "doc_id"))
    n2 = exact.count()

    cand = stage("operators.dedup.minhash_lsh_pairs",
                 lambda: minhash_lsh_pairs(exact, "text", "doc_id"))
    verified = stage("operators.dedup.ngram_jaccard_pairs", lambda: ngram_jaccard_pairs(
        exact, threshold=0.7, text_col="text", id_col="doc_id"))
    pairs = cand.join(verified.select("doc_a", "doc_b"), ["doc_a", "doc_b"])
    clusters = stage("operators.graph.connected_components",
                     lambda: connected_components(pairs, "doc_a", "doc_b"))
    canonical = clusters.groupBy("component").agg(F.min("node").alias("keep_id"))
    drop = clusters.join(
        canonical, clusters["component"] == canonical["component"]
    ).filter(F.col("node") != F.col("keep_id")).select(F.col("node").alias("doc_id"))
    deduped = exact.join(drop, "doc_id", "left_anti").localCheckpoint(eager=True)
    n3 = deduped.count()

    span_scores = stage("operators.dedup.dedup_substrings", lambda: dedup_substrings(
        deduped, "text", "doc_id", k=8).select(
        "doc_id",
        (F.col("n_kept") / F.greatest(F.col("n_tokens"), F.lit(1))).alias("_unique_frac"),
        (F.col("n_tokens") == 0).alias("_no_tokens"),
    ))
    deduped = (
        deduped.join(span_scores, "doc_id")
        .filter((F.col("_unique_frac") >= 0.3) | F.col("_no_tokens"))
        .drop("_unique_frac", "_no_tokens")
    )

    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    train = deduped.filter(F.col("doc_id") % 97 != 0)
    overlap = stage("operators.pipeline.contamination_overlap",
                    lambda: contamination_overlap(train, evalset, n=8))
    contaminated = overlap.filter(F.col("overlap_frac") > 0.5).select("doc_id")
    final = train.join(contaminated, "doc_id", "left_anti")
    n4 = final.count()

    sourced = final.join(raw.select("doc_id", "source"), "doc_id")
    present = sorted(r["source"] for r in sourced.select("source").distinct().collect())
    targets = {s: (3 if s in ("src0", "src1", "src2", "src3", "src4") else 1) for s in present}
    mixed = stage("operators.pipeline.domain_mix", lambda: cap_per_group(
        domain_mix(sourced, "source", "doc_id", targets), ["source"], "doc_id", k=100))
    mixed = mixed.localCheckpoint(eager=True)
    n5 = mixed.count()

    counted = mixed.select("doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    packed = stage("operators.pipeline.pack_sequences",
                   lambda: pack_sequences(counted, capacity=512, num_buckets=16))
    n_bins = packed.select("bucket", "bin").distinct().count()
    shuffled = stage("operators.relational.global_index", lambda: global_index(
        mixed.select("doc_id"),
        order_by=[
            F.md5(F.concat(F.lit("epoch-0:"), F.col("doc_id").cast("string"))),
            F.col("doc_id"),
        ],
        index_col="epoch_pos",
    ))
    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("sink.parquet_write"):
        mixed.join(packed, "doc_id").join(shuffled, "doc_id").write.mode(
            "overwrite").parquet(out_dir)

    # semantic near-dup over embeddings (as in semantic_dedup_survivors)
    emb = spark.read.parquet(f"{data_dir}/embeddings.parquet").select("vec_id", "embedding")
    vec_pairs = stage("operators.similarity.near_dup_pairs", lambda: near_dup_pairs(
        emb, threshold=0.95, num_planes=8, num_tables=4, dim=64
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")))
    comp = connected_components(vec_pairs)
    removed = comp.filter(F.col("component") != F.col("node")).select("node")
    survivors = sorted(
        r[0] for r in emb.join(removed, emb.vec_id == removed.node, "left_anti")
        .select("vec_id").collect()
    )

    return {
        "counts": {"raw": n0, "quality_kept": n1, "exact_deduped": n2,
                   "near_deduped": n3, "decontaminated": n4, "mixed": n5,
                   "bins": n_bins, "survivors": len(survivors)},
        "survivors": survivors,
        "frames": {"clean": clean, "deduped": deduped, "evalset": evalset,
                   "cand": cand, "pairs": pairs},
    }


def read_output(out_dir: str, res: dict) -> str:
    """Order-insensitive digest of the written parquet output; also
    stores the written doc ids in ``res``."""
    files = sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    t = pq.read_table(files).to_pandas()
    t = t[sorted(t.columns)].sort_values(sorted(t.columns)).reset_index(drop=True)
    res["written_ids"] = t["doc_id"].tolist()
    h = hashlib.sha256()
    for row in t.itertuples(index=False, name=None):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _decontam_sql(sql_toks: str) -> str:
    """Train ids left after 8-gram decontamination, replayed in SQL from
    the same inputs as the pipeline's contamination stage (df_cap 1000,
    overlap_frac > 0.5)."""
    grams = ", ".join(f"toks[i+{j}]" for j in range(1, 9))
    shingles = (f"concat_ws(' ', {grams}) AS shingle FROM {{src}}, LATERAL (SELECT "
                "unnest(generate_series(0, greatest(len(toks) - 8, 0))) AS i) g "
                "WHERE i + 8 <= len(toks)")
    return f"""
    WITH train AS (SELECT doc_id, text FROM deduped WHERE doc_id % 97 != 0),
    tr_tok AS (SELECT doc_id, {sql_toks} AS toks FROM train),
    tr_sh AS (SELECT DISTINCT doc_id, {shingles.format(src="tr_tok")}),
    hot AS (SELECT shingle FROM tr_sh GROUP BY shingle HAVING count(*) > 1000),
    tr_kept AS (SELECT t.* FROM tr_sh t LEFT JOIN hot h ON t.shingle = h.shingle
                WHERE h.shingle IS NULL),
    ev_tok AS (SELECT doc_id, {sql_toks} AS toks FROM evalset),
    ev_sh AS (SELECT DISTINCT {shingles.format(src="ev_tok")}),
    ov AS (
      SELECT t.doc_id,
             sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE) AS frac
      FROM tr_kept t LEFT JOIN ev_sh e ON t.shingle = e.shingle GROUP BY t.doc_id
    )
    SELECT doc_id FROM train
    WHERE doc_id NOT IN (SELECT doc_id FROM ov WHERE frac > 0.5)
    """


def check_job(res: dict, planted: dict, digest: str, seed: int) -> list[str]:
    """Output checks of one pipeline run; also sets the LSH useful ratio.

    - semantic near-dup keeps exactly the original vectors (the planted
      copies are exact);
    - the exact-dedup count equals DuckDB's distinct-fingerprint count
      over the same stage input;
    - the decontaminated count equals DuckDB's, and every written doc is
      in DuckDB's decontaminated set;
    - counts and output digest equal the ones stored for the seed.
    """
    import duckdb

    from min_flink_spark.queries.llm import SQL_FP, SQL_TOKS

    problems = []
    res["digest"] = digest
    counts = res["counts"]
    if res["survivors"] != list(range(planted["vecs"])):
        problems.append(f"semantic dedup kept {len(res['survivors'])} vectors, "
                        f"expected the {planted['vecs']} originals")
    fr = res["frames"]
    con = duckdb.connect()
    try:
        con.register("clean", fr["clean"].toPandas())
        n_exact = con.execute(f"SELECT count(DISTINCT {SQL_FP}) FROM clean").fetchone()[0]
        if n_exact != counts["exact_deduped"]:
            problems.append(f"exact dedup kept {counts['exact_deduped']}, DuckDB {n_exact}")
        con.register("deduped", fr["deduped"].toPandas())
        con.register("evalset", fr["evalset"].toPandas())
        keep = {r[0] for r in con.execute(_decontam_sql(SQL_TOKS)).fetchall()}
    finally:
        con.close()
    if len(keep) != counts["decontaminated"]:
        problems.append(f"decontamination kept {counts['decontaminated']}, DuckDB {len(keep)}")
    written = set(res["written_ids"])
    if not written <= keep:
        problems.append(f"{len(written - keep)} written docs are not in DuckDB's "
                        "decontaminated set")
    with open(EXPECTED_PATH) as f:
        stored = json.load(f).get(str(seed))
    if stored is not None and (stored["counts"], stored["digest"]) != (counts, digest):
        problems.append(f"counts/digest differ from those stored for seed {seed}: {stored}")
    # share of LSH candidate pairs that survive Jaccard verification
    n_cand = fr["cand"].count()
    res["lsh_useful_ratio"] = fr["pairs"].count() / n_cand if n_cand else 0.0
    return problems
