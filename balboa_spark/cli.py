"""Command-line console: the balboa-backend-console + balboa query
surface (backend/balboa-backend-console/main.c:96-135, cmd/balboa/cmds).

    python -m balboa_spark.cli dump    <store> <out_dir>
    python -m balboa_spark.cli jsonize <store> <out_dir>
    python -m balboa_spark.cli replay  <store> <dump_dir>
    python -m balboa_spark.cli migrate-v1 <store> <v1_kv_dir>
    python -m balboa_spark.cli backup  <store> <backup_dir>
    python -m balboa_spark.cli query   <store> [--rrname --rdata
            --rrtype --sensor-id --limit N]          # NDJSON to stdout
    python -m balboa_spark.cli serve   <store> [--host --port]
            # HTTP: GET /pdns/query/<subject> (CIRCL REST) +
            #       POST /query (GraphQL-shape entries)
    python -m balboa_spark.cli corpus-pretrain <docs_parquet> <out>
            --target-source SRC [--dsir-k N --seq-len N]
            # composed training-data pipeline: clean -> quality gate
            # -> near-dedup -> DSIR selection -> packed sequences
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="balboa-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    for name, hlp in (
        ("dump", "full export of the forward table (Q5)"),
        ("jsonize", "dump as NDJSON (Q7)"),
        ("backup", "snapshot copy of the store (Q6)"),
    ):
        s = sub.add_parser(name, help=hlp)
        s.add_argument("store")
        s.add_argument("out")

    s = sub.add_parser(
        "compact",
        help="fold outstanding delta generations into a new base "
        "(LSM major compaction; no-op without deltas)",
    )
    s.add_argument("store")

    s = sub.add_parser("replay", help="re-ingest a dump through merge (S6)")
    s.add_argument("store")
    s.add_argument("dump")

    s = sub.add_parser(
        "migrate-v1",
        help="fold a legacy v1 key-value store into this store "
        "(balboa-rocksdb-v1-dump analog)",
    )
    s.add_argument("store")
    s.add_argument("v1_path")

    s = sub.add_parser("query", help="point lookup, NDJSON to stdout")
    s.add_argument("store")
    s.add_argument("--rrname")
    s.add_argument("--rdata")
    s.add_argument("--rrtype")
    s.add_argument("--sensor-id", dest="sensor_id")
    s.add_argument("--limit", type=int, default=1000)
    s.add_argument(
        "--cidr",
        help="rdata within an IPv4 range, e.g. 192.168.0.0/24 — the "
        "`balboa query [netmask]` CLI (cmd/balboa/cmds/query.go:60-64), "
        "as ONE range scan instead of a per-host query fan-out; "
        "network/broadcast excluded below /31 exactly like hosts() "
        "(query.go:52-56)",
    )

    s = sub.add_parser("serve", help="REST + query HTTP endpoints")
    s.add_argument("store")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8080)

    s = sub.add_parser(
        "corpus-pretrain",
        help="composed pretraining pipeline: documents parquet in -> "
        "clean -> quality gate -> near-dedup -> DSIR selection -> "
        "packed sequences parquet out",
    )
    s.add_argument("input", help="parquet dir with (doc_id, text, source)")
    s.add_argument("out", help="output parquet dir for packed sequences")
    s.add_argument("--target-source", dest="target_source", required=True)
    s.add_argument("--dsir-k", dest="dsir_k", type=int, default=2000)
    s.add_argument("--seq-len", dest="seq_len", type=int, default=128)

    s = sub.add_parser(
        "lm-train",
        help="train the add-alpha bigram LM on a documents parquet "
        "and persist the model artifact (operators/lm.py)",
    )
    s.add_argument("input", help="parquet dir with (doc_id, text)")
    s.add_argument("model", help="output model artifact dir")
    s.add_argument("--alpha", type=float, default=1.0)
    s.add_argument(
        "--min-count", dest="min_count", type=int, default=1,
        help="prune bigram types below this count from the artifact "
        "(KenLM convention; denominators stay un-pruned)",
    )
    s.add_argument(
        "--smoothing", choices=("addalpha", "kn", "mkn"),
        default="addalpha",
        help="addalpha (default), kn (interpolated Kneser-Ney), or "
        "mkn (modified KN, three discounts); the artifact records the "
        "kind and lm-score / the streaming monitor auto-dispatch",
    )

    s = sub.add_parser(
        "lm-score",
        help="score a documents parquet against a saved LM artifact: "
        "(doc_id, n_bigrams, avg_logprob, perplexity) parquet out",
    )
    s.add_argument("model", help="model artifact dir from lm-train")
    s.add_argument("input", help="parquet dir with (doc_id, text)")
    s.add_argument("out", help="output parquet dir")

    s = sub.add_parser(
        "corpus-datasheet",
        help="dataset datasheet (markdown): per-source/lang rollups, "
        "quality-gate pass rates, exact-dup rate — the 'datasheets "
        "for datasets' card, computed in three aggregate passes",
    )
    s.add_argument("input", help="parquet dir with (doc_id, text, lang, source)")
    s.add_argument("out", help="output markdown file")

    s = sub.add_parser(
        "attr-tag",
        help="run a built-in tagger over a documents parquet and append "
        "its per-doc attributes to an AttributeStore namespace "
        "(quality = token/char counts, pii = email flag)",
    )
    s.add_argument("store", help="attribute store root dir")
    s.add_argument("input", help="parquet dir with (doc_id, text)")
    s.add_argument(
        "--tagger", choices=("quality", "pii"), default="quality",
        help="which built-in tagger to run (default quality)",
    )

    s = sub.add_parser(
        "attr-mix",
        help="filter a documents parquet by a SQL rule over stored "
        "attributes (columns are <tagger>__<attr>; NULL fails) and "
        "write the kept documents",
    )
    s.add_argument("store", help="attribute store root dir")
    s.add_argument("input", help="parquet dir with (doc_id, ...)")
    s.add_argument("out", help="output parquet dir")
    s.add_argument("rule", help="SQL boolean expr over <tagger>__<attr> cols")
    s.add_argument(
        "--taggers", default=None,
        help="comma-separated tagger list (default: all committed)",
    )

    s = sub.add_parser(
        "tokenizer-fit",
        help="fit a tokenizer on a documents parquet and commit it to "
        "a TokenizerStore generation (word = Sennrich BPE, byte = "
        "GPT-2 byte-level BPE, unigram = SentencePiece unigram LM; "
        "the store pins the kind on first fit)",
    )
    s.add_argument("store", help="tokenizer store root dir")
    s.add_argument("input", help="parquet dir with (doc_id, text)")
    s.add_argument(
        "--kind", choices=("word", "byte", "unigram"), default="word"
    )
    s.add_argument("--num-merges", type=int, default=64,
                   help="BPE kinds: merges to learn (default 64)")
    s.add_argument("--vocab-size", type=int, default=48,
                   help="unigram kind: target piece count (default 48)")

    s = sub.add_parser(
        "tokenizer-encode",
        help="encode a documents parquet to (doc_id, piece_ids) under "
        "the STORED tokenizer, whichever kind is committed",
    )
    s.add_argument("store", help="tokenizer store root dir")
    s.add_argument("input", help="parquet dir with (doc_id, text)")
    s.add_argument("out", help="output parquet dir")

    s = sub.add_parser(
        "tokenizer-export",
        help="write the stored byte tokenizer as public GPT-2 "
        "vocab.json + merges.txt artifacts (inference-stack "
        "interchange)",
    )
    s.add_argument("store", help="tokenizer store root dir (byte kind)")
    s.add_argument("out", help="output dir for vocab.json + merges.txt "
                   "(gpt2) or the tokenizer.json path (hf)")
    s.add_argument("--format", choices=("gpt2", "hf"), default="gpt2")

    s = sub.add_parser(
        "tokenizer-import",
        help="commit a new byte-tokenizer generation from public "
        "GPT-2 vocab.json + merges.txt artifacts (ids honored "
        "verbatim)",
    )
    s.add_argument("store", help="tokenizer store root dir")
    s.add_argument("artifacts", help="dir holding vocab.json + merges.txt "
                   "(gpt2) or the tokenizer.json path (hf)")
    s.add_argument("--format", choices=("gpt2", "hf"), default="gpt2")

    s = sub.add_parser(
        "sft-render",
        help="thread an events parquet into conversations (gap rule) "
        "and write template-rendered transcripts + loss-mask spans",
    )
    s.add_argument("input", help="parquet dir with (event_id, user_id, ts, event_type, props)")
    s.add_argument("out", help="output dir (transcripts/ + spans/ subdirs)")
    s.add_argument("--gap-minutes", type=int, default=30)
    s.add_argument("--system-prompt", default=None)

    s = sub.add_parser(
        "sft-pairs",
        help="assemble DPO preference pairs from a ratings parquet "
        "(prompt_id, response_id, response, score): best vs worst "
        "per prompt, template-rendered",
    )
    s.add_argument("input", help="parquet dir with (prompt_id, response_id, response, score)")
    s.add_argument("out", help="output parquet dir")
    s.add_argument("--system-prompt", default=None)

    s = sub.add_parser(
        "sft-rejection",
        help="rejection-sampling selection (RFT/best-of-n): per "
        "prompt keep the top-k responses clearing the reward "
        "threshold, template-rendered",
    )
    s.add_argument("input", help="parquet dir with (prompt_id, response_id, response, score)")
    s.add_argument("out", help="output parquet dir")
    s.add_argument("--threshold", type=float, required=True)
    s.add_argument("--top-k", type=int, default=1)
    s.add_argument("--system-prompt", default=None)

    s = sub.add_parser(
        "shards-export",
        help="validate + export packed sequences as deterministic "
        "md5-assigned training shards (manifest commits last)",
    )
    s.add_argument("input", help="parquet dir with (seq_id, token_ids)")
    s.add_argument("out", help="shard store root dir (fresh)")
    s.add_argument("--seq-len", type=int, required=True)
    s.add_argument("--num-shards", type=int, default=8)

    s = sub.add_parser(
        "shards-reexport",
        help="incremental shard re-export after a corpus delta: "
        "rewrite only dirty shards, hard-link the rest into a new "
        "generation",
    )
    s.add_argument("input", help="parquet dir with the FULL new (seq_id, token_ids)")
    s.add_argument("out", help="existing shard store root dir")
    s.add_argument("changed", help="parquet dir whose FIRST column is the changed ids")
    return p


def run(args: argparse.Namespace, spark=None) -> int:
    from balboa_spark.plans.layout import ObservationStore

    if spark is None:
        from balboa_spark.session import get_spark

        spark = get_spark("balboa-cli")

    if args.cmd == "corpus-pretrain":
        from balboa_spark.operators.corpus import pretrain_pipeline

        docs = spark.read.parquet(args.input)
        packed = pretrain_pipeline(
            docs,
            target_source=args.target_source,
            dsir_k=args.dsir_k,
            seq_len=args.seq_len,
        )
        packed.write.mode("overwrite").parquet(args.out)
        return 0

    if args.cmd == "attr-tag":
        from pyspark.sql import functions as F

        from balboa_spark.operators.attributes import EMAIL_RE, AttributeStore
        from balboa_spark.operators.text import tokens

        docs = spark.read.parquet(args.input)
        store = AttributeStore(spark, args.store)
        if args.tagger == "quality":
            attrs = docs.select(
                "doc_id",
                F.size(tokens(F.col("text"))).alias("n_tokens"),
                F.length("text").alias("n_chars"),
            )
        else:
            attrs = docs.select(
                "doc_id",
                F.col("text").rlike(EMAIL_RE).alias("has_email"),
            )
        ver = store.write(attrs, args.tagger)
        print(f"tagged {args.tagger} v{ver}")
        return 0

    if args.cmd == "attr-mix":
        from balboa_spark.operators.attributes import AttributeStore

        docs = spark.read.parquet(args.input)
        store = AttributeStore(spark, args.store)
        taggers = (
            [t.strip() for t in args.taggers.split(",") if t.strip()]
            if args.taggers
            else store.taggers()
        )
        store.mix(docs, taggers, args.rule).write.mode("overwrite").parquet(
            args.out
        )
        return 0

    if args.cmd == "tokenizer-fit":
        from balboa_spark.operators.bpe import TokenizerStore

        docs = spark.read.parquet(args.input)
        ts = TokenizerStore(spark, args.store)
        if args.kind == "word":
            art = ts.fit(docs, num_merges=args.num_merges)
        elif args.kind == "byte":
            art = ts.fit_byte(docs, num_merges=args.num_merges)
        else:
            art = ts.fit_unigram(docs, vocab_size=args.vocab_size)
        print(
            f"committed {args.kind} tokenizer gen-"
            f"{ts._manifest()['generation']} ({len(art)} "
            f"{'pieces' if args.kind == 'unigram' else 'merges'})"
        )
        return 0

    if args.cmd == "tokenizer-encode":
        from balboa_spark.operators.bpe import TokenizerStore

        ts = TokenizerStore(spark, args.store)
        ts.encode(spark.read.parquet(args.input)).write.mode(
            "overwrite"
        ).parquet(args.out)
        return 0

    if args.cmd == "tokenizer-export":
        from balboa_spark.operators.bpe import TokenizerStore

        ts = TokenizerStore(spark, args.store)
        vocab = (
            ts.export_hf(args.out)
            if args.format == "hf"
            else ts.export_gpt2(args.out)
        )
        print(f"exported {len(vocab)} vocab entries to {args.out}")
        return 0

    if args.cmd == "tokenizer-import":
        from balboa_spark.operators.bpe import TokenizerStore

        ts = TokenizerStore(spark, args.store)
        merges = (
            ts.import_hf(args.artifacts)
            if args.format == "hf"
            else ts.import_gpt2(args.artifacts)
        )
        print(
            f"committed imported byte tokenizer gen-"
            f"{ts._manifest()['generation']} ({len(merges)} merges)"
        )
        return 0

    if args.cmd == "sft-render":
        import os

        from balboa_spark.operators import sft

        turns = sft.conversation_turns(
            spark.read.parquet(args.input), gap_minutes=args.gap_minutes
        )
        sft.render_conversations(
            turns, system_prompt=args.system_prompt
        ).write.mode("overwrite").parquet(os.path.join(args.out, "transcripts"))
        sft.loss_mask_spans(
            turns, system_prompt=args.system_prompt
        ).write.mode("overwrite").parquet(os.path.join(args.out, "spans"))
        return 0

    if args.cmd == "sft-pairs":
        from balboa_spark.operators import sft

        sft.preference_pairs(
            spark.read.parquet(args.input),
            system_prompt=args.system_prompt,
        ).write.mode("overwrite").parquet(args.out)
        return 0

    if args.cmd == "sft-rejection":
        from balboa_spark.operators import sft

        sft.rejection_sample(
            spark.read.parquet(args.input),
            threshold=args.threshold, k=args.top_k,
            system_prompt=args.system_prompt,
        ).write.mode("overwrite").parquet(args.out)
        return 0

    if args.cmd == "shards-export":
        from balboa_spark.operators import shards

        shards.write_training_shards(
            spark.read.parquet(args.input), args.out,
            seq_len=args.seq_len, num_shards=args.num_shards,
        )
        return 0

    if args.cmd == "shards-reexport":
        from balboa_spark.operators import shards

        shards.reexport_training_shards(
            spark.read.parquet(args.input), args.out,
            spark.read.parquet(args.changed),
        )
        return 0

    if args.cmd == "corpus-datasheet":
        from balboa_spark.operators.corpus import write_datasheet

        write_datasheet(spark.read.parquet(args.input), args.out)
        return 0

    if args.cmd == "lm-train":
        from balboa_spark.operators import lm

        docs = spark.read.parquet(args.input)
        if args.smoothing != "addalpha" and args.min_count != 1:
            # loud failure, not a silently unpruned artifact: the KN
            # trainers do not prune
            raise SystemExit(
                "--min-count applies only to "
                "--smoothing addalpha; the kn/mkn trainers keep every "
                "gram type (their statistics are type-count-derived, "
                "so pruning would change the model, not just its size)"
            )
        if args.smoothing == "kn":
            lm.save_kn_bigram_lm(
                lm.train_kn_bigram_lm(docs, alpha_c=args.alpha), args.model
            )
        elif args.smoothing == "mkn":
            lm.save_mkn_bigram_lm(
                lm.train_mkn_bigram_lm(docs, alpha_c=args.alpha), args.model
            )
        else:
            lm.save_bigram_lm(
                lm.train_bigram_lm(
                    docs, alpha=args.alpha, min_count=args.min_count
                ),
                args.model,
            )
        return 0

    if args.cmd == "lm-score":
        from balboa_spark.operators import lm

        model, score_fn = lm.load_any_lm(spark, args.model)
        scored = score_fn(
            spark.read.parquet(args.input), model, "text", "doc_id"
        )
        scored.write.mode("overwrite").parquet(args.out)
        return 0

    store = ObservationStore(spark, args.store)

    if args.cmd == "dump":
        store.dump(args.out)
    elif args.cmd == "jsonize":
        store.jsonize(args.out)
    elif args.cmd == "backup":
        store.backup(args.out)
    elif args.cmd == "compact":
        store.compact()
    elif args.cmd == "replay":
        store.replay(args.dump)
    elif args.cmd == "migrate-v1":
        from balboa_spark.plans.legacy_v1 import migrate_v1

        migrate_v1(store, args.v1_path)
    elif args.cmd == "query":
        from balboa_spark.operators.query import Query, cidr_search
        from balboa_spark.serving import ndjson_rows, to_cof

        if args.cidr:
            if args.rdata:
                raise SystemExit("--cidr and --rdata are mutually exclusive")
            # residual equality filters compose with the range scan
            # BEFORE the limit binds (the reference applies all Search
            # predicates first, then the limit)
            result = cidr_search(
                store.inverted(),
                args.cidr,
                limit=args.limit,
                rrname=args.rrname,
                rrtype=args.rrtype,
                sensor_id=args.sensor_id,
            )
        else:
            q = Query(
                rdata=args.rdata,
                rrname=args.rrname,
                rrtype=args.rrtype,
                sensor_id=args.sensor_id,
                limit=args.limit,
            )
            q.validate()
            result = store.query(q)
        lines = ndjson_rows(to_cof(result))
        for line in lines:
            print(line)
        return 0 if lines else 1  # empty -> nonzero, the 404 analog
    elif args.cmd == "serve":
        from balboa_spark.serving import serve_http
        from balboa_spark.streaming.stats import EngineStatsListener

        stats = EngineStatsListener()
        spark.streams.addListener(stats)
        srv = serve_http(store, args.host, args.port, stats=stats)
        print(f"serving on http://{srv.server_address[0]}:{srv.server_address[1]}")
        srv.serve_forever()
    return 0


def main(argv=None) -> int:
    return run(build_parser().parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
