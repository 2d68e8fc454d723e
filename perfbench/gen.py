"""Seeded input generator for the perfbench workloads.

Writes each workload's inputs as parquet plus a `truth.json` of planted
ground truth, computed here with numpy and the standard library only
(never with graft or Spark), so every check in the measured JVM compares
graft against an independent expectation.

    python3 perfbench/gen.py --workload vector_index --seed 7 --out DIR

Each input set goes to its own subdirectory of --out; the directory is
complete once the file `done` exists. run.py caches it per workload, seed
and version of this file (which holds the sizes).
"""
import argparse
import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, kept small so that a run, JVM start and JIT warm-up
# included, fits the benchmark's time budget at local[4].
SIZES = {
    "feature_pipeline": {
        "entities": 10_000, "events": 80_000, "zipf_s": 1.1,
        "labels": 16_000, "delta_events": 2_000, "delta_entity_share": 0.02,
        "truth_entities": 300, "truth_labels": 400,
    },
    "vector_index": {
        "vectors": 2_000, "dims": 64, "clusters": 16, "groups": 200,
        "cluster_spread": 0.3, "group_spread": 0.08,
        "queries": 100, "delta_updates": 100, "delta_inserts": 100,
        "pca_sample": 32, "multiget_keys": 20,
    },
    "corpus_curation": {
        "docs": 2_000, "words": 100, "vocab": 5_000, "dup_cluster_share": 0.12,
        "cluster_size": 3, "edit_words": 3, "exact_copy_share": 0.03,
        "pii_share": 0.15, "truth_docs": 300,
    },
}

DAY_US = 86_400_000_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write(out, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), os.path.join(out, name + ".parquet"))


def feature_pipeline(rng, z, out):
    n_ent, n_ev, n_lab, n_delta = z["entities"], z["events"], z["labels"], z["delta_events"]
    # Zipf-skewed entity popularity over a shuffled id space.
    weights = 1.0 / np.arange(1, n_ent + 1) ** z["zipf_s"]
    ids = rng.permutation(n_ent).astype(np.int64) + 1
    entity = ids[rng.choice(n_ent, n_ev, p=weights / weights.sum())]
    feature = rng.choice(np.array(["f_a", "f_b", "f_c"]), n_ev, p=[0.5, 0.3, 0.2])
    # Whole, distinct seconds for every event (base and delta): as-of
    # answers never hinge on an equal-ts tiebreak. Labels sit half a
    # second off that lattice, so a (lagged) feature ts never equals one.
    secs = rng.choice(30 * 86_400, n_ev + n_delta, replace=False).astype(np.int64)
    ts = BASE_US + secs * 1_000_000
    value = np.round(rng.normal(0, 10, n_ev + n_delta), 4)
    ev_ts, ev_val = ts[:n_ev], value[:n_ev]
    event_id = np.arange(n_ev, dtype=np.int64)

    changed = rng.choice(ids, max(1, int(n_ent * z["delta_entity_share"])), replace=False)
    d_entity = changed[rng.integers(0, len(changed), n_delta)]
    d_feature = rng.choice(np.array(["f_a", "f_b"]), n_delta)
    d_ts, d_val = ts[n_ev:], value[n_ev:]
    d_id = np.arange(n_ev, n_ev + n_delta, dtype=np.int64)

    lab_entity = ids[rng.integers(0, n_ent, n_lab)]
    lab_ts = BASE_US + rng.integers(0, 30 * 86_400, n_lab) * 1_000_000 + 500_000
    lab_val = rng.integers(0, 2, n_lab).astype(np.float64)
    lab_id = np.arange(n_lab, dtype=np.int64)

    ev_schema = pa.schema([
        ("entity", pa.int64()), ("feature", pa.string()), ("value", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("event_id", pa.int64())])
    write(out, "events", [entity, feature, ev_val, ev_ts, event_id], ev_schema)
    write(out, "delta_events", [d_entity, d_feature, d_val, d_ts, d_id], ev_schema)
    write(out, "labels", [lab_entity, lab_ts, lab_val, lab_id], pa.schema([
        ("entity", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
        ("label", pa.float64()), ("label_id", pa.int64())]))

    # Per (entity, feature) event lists sorted by ts, base and base+delta.
    def index(ent, feat, t, v):
        order = np.lexsort((t, feat, ent))
        table = {}
        for e, f, tt, vv in zip(ent[order], feat[order], t[order], v[order]):
            table.setdefault((int(e), str(f)), []).append((int(tt), float(vv)))
        return table

    base = index(entity, feature, ev_ts, ev_val)
    full = index(np.concatenate([entity, d_entity]), np.concatenate([feature, d_feature]),
                 np.concatenate([ev_ts, d_ts]), np.concatenate([ev_val, d_val]))

    def latest(table, e, f):
        evs = table.get((e, f))
        return evs[-1] if evs else None

    def as_of(table, e, f, t):
        best = None
        for tt, vv in table.get((e, f), ()):
            if tt > t:
                break
            best = vv
        return best

    # Sample: the heaviest entities, changed ones and uniform ones.
    heavy = ids[:20]
    sample = np.unique(np.concatenate([
        heavy, changed[: z["truth_entities"] // 3],
        rng.choice(ids, z["truth_entities"], replace=False)]))
    latest_base, latest_full, batch = {}, {}, {}
    for e in map(int, sample):
        lb, lf = latest(base, e, "f_a"), latest(full, e, "f_a")
        if lb:
            latest_base[e] = {"ts_us": lb[0], "value": lb[1]}
        if lf:
            latest_full[e] = {"ts_us": lf[0], "value": lf[1]}
        if any((e, f) in base for f in ("f_a", "f_b", "f_c")):  # else absent from the output
            batch[e] = {f: (latest(base, e, f) or (None, None))[1] for f in ("f_a", "f_b", "f_c")}
    changed_set = set(map(int, changed))
    pick = np.concatenate([
        rng.choice(n_lab, z["truth_labels"], replace=False),
        np.flatnonzero(np.isin(lab_entity, changed))[: z["truth_labels"] // 2]])
    threshold = "%04x" % int(0.2 * 65536)

    def pit(table, i):
        e, t = int(lab_entity[i]), int(lab_ts[i])
        return {"f_a": as_of(table, e, "f_a", t), "f_b": as_of(table, e, "f_b", t),
                "f_a_lag": as_of(table, e, "f_a", t - DAY_US)}

    labels = {}
    for i in map(int, np.unique(pick)):
        e = int(lab_entity[i])
        labels[i] = {
            "entity": e, "ts_us": int(lab_ts[i]), "label": float(lab_val[i]),
            "base": pit(base, i), "full": pit(full, i),
            "split": "test" if hashlib.md5(str(e).encode()).hexdigest()[:4] < threshold
            else "train"}
    return {
        "entities_with_f_a": len({e for (e, f) in base if f == "f_a"}),
        "entities_with_f_a_full": len({e for (e, f) in full if f == "f_a"}),
        "batch_entities": len({e for (e, _) in base}),
        "labels": n_lab,
        "changed_entities": sorted(changed_set),
        "latest_base": latest_base, "latest_full": latest_full, "batch": batch,
        "label_rows": labels,
    }


def vector_index(rng, z, out):
    n, d, c = z["vectors"], z["dims"], z["clusters"]
    # Two-level clusters: coarse centres, then tight groups of about ten
    # vectors, so each vector's true top-10 is mostly its own group.
    centers = rng.normal(0, 1, (c, d))
    groups = centers[rng.integers(0, c, z["groups"])] + \
        z["cluster_spread"] * rng.normal(0, 1, (z["groups"], d))

    def draw(k):
        return (groups[rng.integers(0, len(groups), k)]
                + z["group_spread"] * rng.normal(0, 1, (k, d))).astype(np.float32)

    corpus, queries = draw(n), draw(z["queries"])
    n_up, n_ins = z["delta_updates"], z["delta_inserts"]
    up_ids = rng.choice(n, n_up, replace=False).astype(np.int64)
    delta_ids = np.concatenate([up_ids, np.arange(n, n + n_ins, dtype=np.int64)])
    delta = draw(n_up + n_ins)
    q_ids = np.arange(1_000_000, 1_000_000 + len(queries), dtype=np.int64)

    schema = pa.schema([("id", pa.int64()), ("embedding", pa.list_(pa.float32()))])

    def write_vecs(name, ids, vecs):
        write(out, name, [ids, pa.array(list(vecs), type=pa.list_(pa.float32()))], schema)

    write_vecs("corpus", np.arange(n, dtype=np.int64), corpus)
    write_vecs("queries", q_ids, queries)
    write_vecs("delta", delta_ids, delta)

    # Exact cosine top-10 (+ the 11th score, to tell real ties apart).
    cn = corpus.astype(np.float64)
    cn /= np.linalg.norm(cn, axis=1, keepdims=True)
    qn = queries.astype(np.float64)
    qn /= np.linalg.norm(qn, axis=1, keepdims=True)
    sims = qn @ cn.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :11]
    knn = {}
    for qi, row in enumerate(top):
        knn[int(q_ids[qi])] = {"ids": [int(x) for x in row[:10]],
                               "sims": [float(sims[qi, x]) for x in row]}
    sample = corpus[: z["pca_sample"]].astype(np.float64)
    mu = sample.mean(axis=0)
    cov = sample.T @ sample / len(sample) - np.outer(mu, mu)
    keys = np.concatenate([up_ids[: z["multiget_keys"] // 2],
                           rng.choice(np.setdiff1d(np.arange(n), up_ids), z["multiget_keys"] // 2, replace=False)])
    delta_by_id = {int(i): v for i, v in zip(delta_ids, delta)}
    multiget = {int(k): [float(x) for x in delta_by_id.get(int(k), corpus[int(k)])] for k in keys}
    return {
        "vectors": n, "dims": d, "queries": [int(x) for x in q_ids], "knn": knn,
        "delta_ids": [int(x) for x in delta_ids], "upserted_size": n + n_ins,
        "pca_sample": z["pca_sample"], "pca_mean": mu.tolist(), "pca_cov": cov.tolist(),
        "multiget": multiget,
    }


PII = [  # graft's TextAnalysis.PiiClasses, applied in this order
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    ("card", r"\b\d{16}\b", "[CARD]"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
]
MARKERS = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "los", "que", "es"],
    "fr": ["le", "les", "et", "est"],
}  # graft's LangMarkers minus "la", which scores for both es and fr
STOPWORDS = {"a", "the", "of", "and", "to", "in"}


def quality(text):
    """graft's documented TextAnalysis.qualityScore formula."""
    toks = text.split(" ")
    n_tok, n_dis, n_char = len(toks), len(set(toks)), len(text)
    punct = len(re.findall(r"[.!?,;:]", text))
    upper = len(re.findall(r"[A-Z]", text))
    stop = sum(1 for t in toks if t in STOPWORDS)
    return (n_dis / n_tok) * 0.5 + (1 - stop / n_tok) * 0.3 + \
        (1 - punct / n_char) * 0.1 + (1 - upper / n_char) * 0.1


def pii_token(rng, kind):
    r = rng.integers
    return {
        "email": lambda: f"user{r(0, 10**6)}@mail{r(0, 99)}.example.org",
        "card": lambda: "".join(str(x) for x in r(1, 10, 16)),
        "ipv4": lambda: ".".join(str(x) for x in r(1, 255, 4)),
        "ssn": lambda: f"{r(100, 999)}-{r(10, 99)}-{r(1000, 9999)}",
        "phone": lambda: f"{r(100, 999)}-{r(100, 999)}-{r(1000, 9999)}",
    }[kind]()


def corpus_curation(rng, z, out):
    n, w = z["docs"], z["words"]
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    def word():
        k = 2 + int(rng.integers(0, 2))  # 4-6 letters: never a marker word
        return "".join(str(rng.choice(letters)) + str(rng.choice(vowels)) for _ in range(k))

    vocab = sorted({word() for _ in range(z["vocab"] * 2)})[: z["vocab"]]
    vocab, plain = np.array(vocab), set(vocab)
    langs = sorted(MARKERS)

    pii_docs = set(rng.choice(n, int(n * z["pii_share"]), replace=False).tolist())

    def make_doc(i):
        lang = langs[rng.integers(0, len(langs))]
        toks = list(rng.choice(vocab, w))
        slots = rng.choice(w, 8, replace=False)
        for s in slots:  # 8 markers of one language: langId is unambiguous
            toks[s] = MARKERS[lang][rng.integers(0, len(MARKERS[lang]))]
        for s in range(0, w, 15):  # sentences: capital start, period end
            toks[s] = toks[s].capitalize()
            toks[min(w - 1, s + 14)] += "."
        if i in pii_docs:
            toks[rng.integers(1, w - 1)] = pii_token(rng, PII[rng.integers(0, len(PII))][0])
        return lang, toks

    # A fixed number of planted clusters of a fixed size, so candidate
    # volume and component structure are alike across seeds; the first
    # few clusters are exact copies, the rest near-duplicates.
    size = z["cluster_size"]
    n_clusters = int(n * z["dup_cluster_share"] / size)
    n_exact = int(n * z["exact_copy_share"] / size)
    texts, lang_of, clusters = [], [], []
    for c in range(n_clusters):
        lang, toks = make_doc(len(texts))
        members = []
        for m in range(size):
            copy = list(toks)
            if m and c >= n_exact:
                for s in rng.choice(w, z["edit_words"], replace=False):
                    # keep marker/PII slots intact: edit plain words only
                    if copy[s].lower().rstrip(".") in plain:
                        copy[s] = rng.choice(vocab) + ("." if copy[s].endswith(".") else "")
            members.append(len(texts))
            texts.append(" ".join(copy)); lang_of.append(lang)
        clusters.append(members)
    while len(texts) < n:
        lang, toks = make_doc(len(texts))
        texts.append(" ".join(toks)); lang_of.append(lang)
    order = rng.permutation(n)  # planted copies must not sit on adjacent ids
    doc_id = np.empty(n, dtype=np.int64)
    doc_id[order] = np.arange(n, dtype=np.int64) * 7 + 3
    write(out, "documents", [doc_id, texts],
          pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))

    pairs = sorted({(min(doc_id[a], doc_id[b]), max(doc_id[a], doc_id[b]))
                    for c in clusters for i, a in enumerate(c) for b in c[i + 1:]})
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(int(doc_id[i]))
    exact = {hashlib.md5(t.encode()).hexdigest(): {"keep_id": min(v), "n_copies": len(v)}
             for t, v in by_text.items() if len(v) > 1}
    docs = {}
    for i in rng.choice(n, z["truth_docs"], replace=False):
        t = texts[i]
        counts, cur = {}, t
        for name, pat, rep in PII:
            counts[name] = len(re.findall(pat, cur))
            cur = re.sub(pat, rep.replace("\\", "\\\\"), cur)
        docs[int(doc_id[i])] = {"quality": quality(t), "lang": lang_of[i],
                                "pii": counts, "scrubbed": cur}
    return {
        "docs": n, "distinct_texts": len(by_text), "exact_groups": exact,
        "dup_pairs": [[int(a), int(b)] for a, b in pairs], "doc_truth": docs,
    }


GENERATORS = {"feature_pipeline": feature_pipeline, "vector_index": vector_index,
              "corpus_curation": corpus_curation}
# Benchmark workload → the input sets it runs, each generated into its own
# subdirectory of the workload's input directory.
WORKLOADS = {"feature_and_corpus": ("feature_pipeline", "corpus_curation"),
             "vector_index": ("vector_index",)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    for part in WORKLOADS[a.workload]:
        out = os.path.join(a.out, part)
        os.makedirs(out, exist_ok=True)
        truth = GENERATORS[part](np.random.default_rng(a.seed), SIZES[part], out)
        truth["params"] = dict(SIZES[part], seed=a.seed, input_set=part)
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
    open(os.path.join(a.out, "done"), "w").close()


if __name__ == "__main__":
    main()
