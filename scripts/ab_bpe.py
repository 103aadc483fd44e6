#!/usr/bin/env python
"""Interleaved 3-arm A/B for bpe_encode_stats / bpe_train_merges
(r12 verdict "next round" #8).

arms:
  old  — HEAD operators/text.py: eager per-round train checkpoints +
         JVM F.aggregate-fold encode (the r12 shape)
  new  — working tree: LAZY per-round train checkpoints (next round's
         argmax collect materializes; the dead final-round rewrite is
         never computed) + the same JVM fold encode
  trie — lazy train + a pandas-UDF single-pass Python encode over the
         distinct (group, word) table (the sketched guide-§4 variant;
         must beat the JVM fold to ship)

Markers (identical code in all arms): doc_tfidf_keywords + word_counts_cms.

Usage: python scripts/ab_bpe.py [OLD_REF] [ROUNDS]
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

MODULE = "graph_database_spark.operators.text"
REL = "graph_database_spark/operators/text.py"


def _session():
    kind = os.environ.get("AB_SESSION", "driver-default")
    from pyspark.sql import SparkSession
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if kind == "tuned":
        from graph_database_spark.session import get_spark
        spark = get_spark("ab-bpe")
    else:
        from graph_database_spark.session import driver_memory
        spark = (SparkSession.builder.master(f"local[{cpus}]")
                 .appName("ab-bpe")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.driver.memory", driver_memory())
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, kind


def _load_module(path: str):
    spec = importlib.util.spec_from_file_location(MODULE, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[MODULE] = mod
    spec.loader.exec_module(mod)
    return mod


def q_trie_encode(spark, sf_dir):
    """Guide-§4 variant: same merges, same (group, word, n_occ) table,
    but the per-word token count comes from a pandas UDF applying the
    rank-ordered merges in one Python pass per word."""
    import pandas as pd
    from pyspark.sql import functions as F
    from graph_database_spark.sources.testdata import load_table
    text_mod = sys.modules[MODULE]

    docs = load_table(spark, sf_dir, "documents")
    merges = [(r["lhs"], r["rhs"], r["merged"])
              for r in text_mod.bpe_train(docs, 8, "text").collect()]
    sw = (text_mod.spread(docs)
          .select("source",
                  F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                    r"\s+")).alias("word"))
          .filter(F.col("word") != "")
          .groupBy("source", "word")
          .agg(F.count(F.lit(1)).alias("n_occ")))

    @F.pandas_udf("int")
    def ntok(words: pd.Series) -> pd.Series:
        ms = merges  # once per task

        def enc(w: str) -> int:
            toks = list(w)
            for lhs, rhs, merged in ms:
                out = []
                for t in toks:
                    if out and out[-1] == lhs and t == rhs:
                        out[-1] = merged
                    else:
                        out.append(t)
                toks = out
            return len(toks)
        return words.map(enc)

    enc = sw.withColumn("__ntok", ntok("word"))
    return (enc.groupBy("source")
            .agg(F.sum("n_occ").cast("long").alias("ws_tokens"),
                 F.sum(F.col("n_occ") * F.col("__ntok")).cast("long")
                 .alias("bpe_tokens"))
            .select("source", "ws_tokens", "bpe_tokens",
                    F.round(F.col("bpe_tokens").cast("double")
                            / F.col("ws_tokens").cast("double"), 6)
                    .alias("tokens_per_word")))


def main() -> None:
    old_ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, kind = _session()

    from graph_database_spark.registry import QUERIES

    old_src = subprocess.run(
        ["git", "-C", HERE, "show", f"{old_ref}:{REL}"],
        capture_output=True, text=True, check=True).stdout
    os.makedirs("/tmp/ab_bpe", exist_ok=True)
    old_path = "/tmp/ab_bpe/text_old.py"
    with open(old_path, "w") as fh:
        fh.write(old_src)
    new_path = os.path.join(HERE, REL)

    targets = ["bpe_encode_stats", "bpe_train_merges"]
    markers = ["doc_tfidf_keywords", "word_counts_cms"]

    def run(name, fn):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # value check: trie encode must equal the JVM fold encode
    _load_module(new_path)
    ref = sorted(map(tuple, QUERIES["bpe_encode_stats"](
        spark, "/root/testdata/sf0.01").collect()))
    got = sorted(map(tuple, q_trie_encode(
        spark, "/root/testdata/sf0.01").collect()))
    assert ref == got, (ref, got)
    print("trie == fold at sf0.01 OK", file=sys.stderr, flush=True)

    arms = [("old", old_path, None), ("new", new_path, None),
            ("trie", new_path, q_trie_encode)]
    # warm-up (discarded)
    for tag, path, custom in arms:
        _load_module(path)
        for t in targets:
            run(t, custom if (custom and t == "bpe_encode_stats")
                else QUERIES[t])
    for mk in markers:
        run(mk, QUERIES[mk])

    res: dict[str, list[float]] = {}
    for rnd in range(rounds):
        for tag, path, custom in arms:
            _load_module(path)
            for t in targets:
                spark.sparkContext.setJobDescription(f"ab:{tag}:{t}:r{rnd}")
                fn = custom if (custom and t == "bpe_encode_stats") \
                    else QUERIES[t]
                dt = run(t, fn)
                res.setdefault(f"{tag}:{t}", []).append(dt)
                print(f"  r{rnd} {tag:4s} {t:20s} {dt:6.2f}s",
                      file=sys.stderr, flush=True)
        for mk in markers:
            spark.sparkContext.setJobDescription(f"ab:marker:{mk}:r{rnd}")
            res.setdefault(f"marker:{mk}", []).append(run(mk, QUERIES[mk]))
    _load_module(new_path)

    out = {"session": kind, "sf_dir": sf_dir, "rounds": rounds,
           "min": {k: round(min(v), 2) for k, v in res.items()},
           "draws": {k: [round(x, 2) for x in v] for k, v in res.items()}}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
