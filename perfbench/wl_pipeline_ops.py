"""pipeline_ops: the LLM-data-pipeline operator chain.

Seeded documents in near-duplicate families (each family draws from its
own vocabulary; members differ from the family base by one token, some are
exact copies) and clustered 64-d embeddings (family members within cosine
0.99), written as two small Delta tables and read once through the engine.
One cycle runs the chain: exact dedup, MinHash-LSH pairs, exact Jaccard,
SimHash, IVF top-k (float and int8), SemDeDup, TF-IDF, and connected
components over the MinHash pairs. Kernel layers do almost nothing here.
Every operator's pair, cluster or row count is checked against a
pure-Python recount.
"""

from __future__ import annotations

import itertools
import json
import os
import random

import pyarrow as pa

from harness import Op, expect
import synthlog

N_DOCS = 5_000
N_VECS = 2_000
DIMS = 64
SHINGLE_K = 3
MINHASH_THRESHOLD = 0.8
#: share of true pairs MinHash-LSH may miss (its recall is probabilistic)
MINHASH_MISS_ALLOWANCE = 0.001
JACCARD_THRESHOLD = 0.5
IVF_CENTROIDS = 16
IVF_K = 5
IVF_QUERIES = 8
SEMDEDUP_THRESHOLD = 0.95
TFIDF_TOP_K = 3


def synth_documents(n: int, seed: int) -> list[tuple[int, str, int]]:
    """(doc_id, text, family) rows; families of 1-4 members."""
    rng = random.Random(seed)
    rows, fam = [], 0
    while len(rows) < n:
        size = min(rng.choice((1, 1, 2, 2, 3, 4)), n - len(rows))
        length = rng.randrange(45, 80)
        vocab = [f"f{fam}w{j}" for j in range(40)]
        base = [rng.choice(vocab) for _ in range(length)]
        for m in range(size):
            words = list(base)
            if m and rng.random() < 0.75:  # else an exact copy of the base
                words[rng.randrange(3, length - 3)] = f"f{fam}x{m}"
            rows.append((len(rows), " ".join(words), fam))
        fam += 1
    return rows


def synth_embeddings(n: int, seed: int) -> list[tuple[int, list[float], int]]:
    """(vec_id, embedding, family) rows; families of 1-3 members."""
    rng = random.Random(seed)
    rows, fam = [], 0
    while len(rows) < n:
        size = min(rng.choice((1, 1, 2, 3)), n - len(rows))
        base = [rng.uniform(-1.0, 1.0) for _ in range(DIMS)]
        for m in range(size):
            noise = 0.01 if m else 0.0
            rows.append((len(rows), [x + rng.uniform(-noise, noise) for x in base], fam))
        fam += 1
    return rows


def _shingles(text: str) -> frozenset:
    w = text.split(" ")
    return frozenset(" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1))


def reference(docs, vecs) -> dict:
    """Pure-Python answers for every checked output. Families share no
    vocabulary, so only same-family pairs can have Jaccard > 0."""
    by_family: dict = {}
    for doc_id, text, fam in docs:
        by_family.setdefault(fam, []).append((doc_id, _shingles(text)))
    pairs08, pairs05 = set(), set()
    for members in by_family.values():
        for (a, sa), (b, sb) in itertools.combinations(members, 2):
            j = len(sa & sb) / len(sa | sb)
            if j >= MINHASH_THRESHOLD:
                pairs08.add((a, b))
            if j >= JACCARD_THRESHOLD:
                pairs05.add((a, b))
    vec_leaders = {}
    for vec_id, _v, fam in vecs:
        vec_leaders.setdefault(fam, vec_id)
    return {
        "n_docs": len(docs),
        "n_vecs": len(vecs),
        "distinct_texts": len({t for _i, t, _f in docs}),
        "pairs08": pairs08,
        "pairs05": len(pairs05),
        "tfidf_rows": sum(min(TFIDF_TOP_K, len(set(t.split(" ")))) for _i, t, _f in docs),
        "vec_non_leaders": {v for v, _e, f in vecs if vec_leaders[f] != v},
    }


def components(pairs) -> tuple[int, int]:
    """(nodes, clusters) of the graph ``pairs`` spans, by union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len(parent), len({find(x) for x in parent})


def _schema(*fields) -> str:
    return json.dumps(
        {"type": "struct", "fields": [{"name": n, "type": t, "nullable": True, "metadata": {}} for n, t in fields]}
    )


def setup(ctx):
    docs = synth_documents(N_DOCS, ctx.seed)
    vecs = synth_embeddings(N_VECS, ctx.seed + 1)
    paths = [os.path.join(ctx.work, name) for name in ("documents", "embeddings")]
    synthlog.write_data_table(
        paths[0],
        pa.table({"doc_id": [i for i, _t, _f in docs], "text": [t for _i, t, _f in docs]}),
        _schema(("doc_id", "long"), ("text", "string")),
    )
    synthlog.write_data_table(
        paths[1],
        pa.table(
            {"vec_id": [i for i, _e, _f in vecs], "embedding": [e for _i, e, _f in vecs]},
            schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]),
        ),
        _schema(("vec_id", "long"), ("embedding", {"type": "array", "elementType": "float", "containsNull": True})),
    )
    ref = reference(docs, vecs)
    state = {"paths": paths, "ref": ref, "frames": None}
    ctx.inputs[__name__] = {
        "documents": N_DOCS,
        "embeddings": N_VECS,
        "dims": DIMS,
        "near_dup_pairs": len(ref["pairs08"]),
        "distinct_texts": ref["distinct_texts"],
        "tables": "two one-commit Delta tables, read once per cycle through the engine and cached",
    }
    return state


def cycle(ctx, state):
    from delta_kernel_rs_spark.sources.table import DeltaTable

    ref = state["ref"]

    def read_inputs():
        for f in state["frames"] or ():
            f.unpersist()
        state["frames"] = [DeltaTable(ctx.spark, p).to_df().cache() for p in state["paths"]]
        return tuple(f.count() for f in state["frames"])

    want = (ref["n_docs"], ref["n_vecs"])
    return [
        Op("read.inputs", read_inputs, lambda got: expect(got == want, f"inputs: {got}, want {want}")),
        *_chain(ctx, state),
    ]


def named_metrics(rec) -> dict:
    """docs_per_s: documents through the whole operator chain per second
    of chain time (the read of the inputs excluded)."""
    chain_ms = sum(sum(v) for k, v in rec.latencies_ms.items() if k.startswith("operators."))
    chains = len(rec.latencies_ms.get("operators.dedup.exact", ()))
    if not chain_ms:
        return {}
    return {"docs_per_s": {"value": 1000.0 * chains * N_DOCS / chain_ms, "unit": "1/s", "n": chains}}


def finish(ctx, state):
    """Traced run only: LSH candidate pairs, the denominator of
    operators.dedup.pairs_verified_ratio (one extra job after the loop)."""
    from pyspark.sql import functions as F

    from delta_kernel_rs_spark.operators import dedup

    docs = state["frames"][0]
    bands = dedup.minhash_band_rows_from_text(docs, k=SHINGLE_K)
    a, b = bands.alias("a"), bands.alias("b")
    n = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_sig") == F.col("b.band_sig")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # per minhash op, so the ratio reads verified pairs over candidates
    calls = len(ctx.tracer.durations_ms().get("op.operators.dedup.minhash_pairs", ()))
    ctx.tracer.count("minhash.candidates", n * calls)


def _chain(ctx, state) -> list:
    from pyspark.sql import functions as F

    from delta_kernel_rs_spark.operators import cluster, dedup, similarity, text

    tr, ref = ctx.tracer, state["ref"]

    # the frames read.inputs cached for this cycle, looked up when an op runs
    def docs():
        return state["frames"][0]

    def vecs():
        return state["frames"][1]

    def minhash():
        rows = dedup.neardup_pairs_minhash(docs(), k=SHINGLE_K, threshold=MINHASH_THRESHOLD).select(
            "doc_a", "doc_b"
        ).collect()
        pairs = {(r[0], r[1]) for r in rows}
        tr.count("minhash.pairs", len(pairs))
        state["pairs"] = pairs
        return pairs

    def ivf(fn):
        def go():
            rows = fn(vecs(), n_centroids=IVF_CENTROIDS, k=IVF_K, query_pred=f"vec_id < {IVF_QUERIES}").collect()
            return len(rows), len({r.query_id for r in rows})

        return go

    def semdedup():
        rows = similarity.semantic_dedup(vecs(), threshold=SEMDEDUP_THRESHOLD).collect()
        return len(rows), {r.vec_id for r in rows if not r.is_kept}

    # components run on the pairs the MinHash op found, handed to Spark
    # before the timed region
    staged = {}

    def stage_pairs():
        staged["df"] = ctx.spark.createDataFrame(sorted(state["pairs"]), "doc_a long, doc_b long")

    def run_components():
        rows = cluster.connected_components(staged["df"]).collect()
        return len(rows), len({r.cluster_id for r in rows})

    def check_components(got):
        want = components(state["pairs"])
        expect(got == want, f"components: {got}, want {want}")

    def simhash():
        fp = dedup.simhash64(docs())
        r = fp.agg(F.count(F.lit(1)), F.countDistinct("s1", "s2")).first()
        return r[0], r[1]

    def check_minhash(pairs):
        # Verified pairs are exact, so no false pair may appear. Recall is
        # LSH's: with 16 bands of 4 rows a pair at Jaccard 0.8 is missed
        # with probability 2e-4, so a few misses in thousands are allowed.
        false, missed = pairs - ref["pairs08"], ref["pairs08"] - pairs
        expect(
            not false and len(missed) <= MINHASH_MISS_ALLOWANCE * len(ref["pairs08"]),
            f"minhash: {len(pairs)} pairs, {len(false)} false, {len(missed)} missed",
        )

    def check_semdedup(got):
        n, removed = got
        expect(n == ref["n_vecs"], f"semdedup: {n} rows, want {ref['n_vecs']}")
        stray = removed - ref["vec_non_leaders"]
        expect(not stray, f"semdedup removed {len(stray)} family leaders or singletons")

    n_docs = ref["n_docs"]
    want_ivf = (IVF_QUERIES * IVF_K, IVF_QUERIES)
    return [
        Op(
            "operators.dedup.exact",
            lambda: dedup.exact_duplicate_groups(docs()).count(),
            lambda n: expect(n == ref["distinct_texts"], f"exact dedup: {n} groups, want {ref['distinct_texts']}"),
        ),
        Op("operators.dedup.minhash_pairs", minhash, check_minhash),
        Op(
            "operators.dedup.jaccard",
            lambda: dedup.jaccard_pairs_exact(docs(), k=SHINGLE_K, threshold=JACCARD_THRESHOLD).count(),
            lambda n: expect(n == ref["pairs05"], f"jaccard: {n} pairs, want {ref['pairs05']}"),
        ),
        Op(
            "operators.dedup.simhash",
            simhash,
            lambda got: expect(
                got[0] == n_docs and got[1] <= ref["distinct_texts"],
                f"simhash: {got}, want {n_docs} rows and <= {ref['distinct_texts']} fingerprints",
            ),
        ),
        Op(
            "operators.similarity.ivf_topk",
            ivf(similarity.ivf_topk),
            lambda got: expect(got == want_ivf, f"ivf: {got}, want {want_ivf}"),
        ),
        Op(
            "operators.similarity.ivf_topk_int8",
            ivf(similarity.ivf_topk_quantized),
            lambda got: expect(got == want_ivf, f"ivf int8: {got}, want {want_ivf}"),
        ),
        Op(
            "operators.similarity.semantic_dedup",
            semdedup,
            check_semdedup,
        ),
        Op(
            "operators.text.tfidf",
            lambda: text.tfidf_top_terms(docs(), top_k=TFIDF_TOP_K).count(),
            lambda n: expect(n == ref["tfidf_rows"], f"tfidf: {n} rows, want {ref['tfidf_rows']}"),
        ),
        Op("operators.cluster.components", run_components, check_components, stage_pairs),
    ]
