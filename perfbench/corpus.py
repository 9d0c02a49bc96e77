"""``corpus`` workload: the batch operator layer.

A fixed chain with one call per heavy operator family, over generated
documents and customer names written as parquet in set-up:
``corpus.pretrain_pipeline``, ``lm.kn_ngram_lm_perplexity(n=5)``,
``lm.ccnet_pipeline``, ``dedup.minhash_lsh_pairs`` + ``near_dedup_keep``
and ``fuzzy.fuzzy_value_pairs``. The inputs are fixed (the seed does not
apply), so each output's row count and content hash must equal the
values recorded in EXPECTED. The chain runs once per run, in the fresh
session, as a batch job does; one pass outlasts the run's measuring
time on a 4-core host, so that time adds no second pass.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench import gen

N_DOCS = 400
N_CUSTOMERS = 1_500

#: call -> (rows, sha256 of the sorted rows, floats to 6 significant digits)
EXPECTED = {
    "corpus.pretrain": (124, "19d196a14a4af8b468fb516847724d27b9089fe0d078a04e4e51621efdc77609"),
    "lm.kn5": (400, "925c0fc9dcc98f88e876782cb688a7a646e919619cdfd57d2bd68e57bf70e1df"),
    "lm.ccnet": (400, "5dcc560e5cd4ff982aad2677dfced9d9fb8eafebf8f6173f2d6846f8a368280a"),
    "dedup.near_keep": (363, "5aacb8874a33c0e0a93fd5cad31bdefcbef6a1228b1a2b14cf204c4821925fbc"),
    "fuzzy.pairs": (19500, "5703b90324255c5c00acd87a15fcb72be2fa7bd19dc6d54d22783dc2ddf37b19"),
}


def write_inputs(work: str) -> tuple[str, str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, customers = gen.corpus_tables(0, N_DOCS, N_CUSTOMERS)
    paths = os.path.join(work, "documents.parquet"), os.path.join(work, "customer.parquet")
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    pq.write_table(pa.table({c: [d[i] for d in docs] for i, c in enumerate(cols)}), paths[0])
    pq.write_table(
        pa.table({"c_custkey": [c[0] for c in customers], "c_name": [c[1] for c in customers]}),
        paths[1],
    )
    return paths


def chain(spark, docs_path: str, cust_path: str):
    """(name, DataFrame) for each call of the chain, built lazily."""
    from pyspark.sql import functions as F

    from balboa_spark.operators import corpus, dedup, fuzzy, lm

    par = int(os.environ["SPARK_GRAFT_CPUS"])
    docs = spark.read.parquet(docs_path)
    cust = spark.read.parquet(cust_path)

    def pretrain():
        noisy = docs.select(
            "doc_id", "source",
            F.concat(F.lit("\x01“noise” "), F.col("text"), F.lit("\x7f")).alias("text"),
        )
        return corpus.pretrain_pipeline(noisy, target_source="src0", dsir_k=2000, seq_len=128)

    def near_keep():
        d = docs.select("doc_id", "text").repartition(par)
        return dedup.near_dedup_keep(d, dedup.minhash_lsh_pairs(d))

    return (
        ("corpus.pretrain", pretrain),
        ("lm.kn5", lambda: lm.kn_ngram_lm_perplexity(docs.repartition(par), n=5)),
        ("lm.ccnet", lambda: lm.ccnet_pipeline(docs.select("doc_id", "source", "text").repartition(par))),
        ("dedup.near_keep", near_keep),
        ("fuzzy.pairs", lambda: fuzzy.fuzzy_value_pairs(cust.repartition(par), "c_name", 1)),
    )


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(_canon(v) for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def run(ctx):
    t0 = time.perf_counter()
    calls = chain(ctx.spark, *write_inputs(ctx.work))
    ctx.setup_done(time.perf_counter() - t0)

    times, outputs = {}, {}
    for name, build in calls:
        with ctx.spans.span(name):
            t0 = time.perf_counter()
            outputs[name] = build().collect()
            times[name] = time.perf_counter() - t0

    failed = 0
    for name, rows in outputs.items():
        got = digest(rows)
        if EXPECTED[name] != got:
            failed += 1
            ctx.note(f"digest.{name}", f"{got[0]} {got[1]}", "")

    total = sum(times.values())
    ctx.note("corpus_s", total, "s")
    for name, t in times.items():
        ctx.note(f"{name}_s", t, "s")
    ctx.corpus = times
    return {
        "attempted": len(outputs),
        "failed": failed,
        "op_p50_ms": total * 1e3,
        "work_per_s": N_DOCS / total,
    }
