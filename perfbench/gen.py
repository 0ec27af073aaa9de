"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (workload spec, seed): the same seed
writes byte-identical parquet files and the same ground truth. Output goes
to ``<work>/data/<workload>-<seed>/`` and is reused when that directory
already holds a complete set (``truth.json`` is written last).

Ground truth is computed here from the generator's own model, never from
program code: global ids are md5 of the canonical JSON rendering (sorted
keys, compact separators, empty values dropped), the brick contract the
program must meet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Staging shape. harmonize_wide: two sources, many rows, little
# duplication, many distinct InChIs (re-key shuffles, the chem UDF over
# distinct InChIs, the final distinct and the brick write).
STAGING_SPECS = {
    "harmonize_wide": dict(
        n_sources=2, sub_pool=60_000, prop_pool=4_000, inchi_pool=50_000,
        subs_per_source=36_000, props_per_source=2_400,
        acts_per_source=150_000, alias_share=0.03, dup_share=0.02,
        orphan_share=0.005,
    ),
}

# operator_mix shapes: near-duplicate cluster sizes are 1 + geometric(p).
MIX_SPEC = dict(
    n_docs=1_500, vocab=3_000, doc_words=(12, 60), doc_cluster_p=0.55,
    n_vecs=1_500, dims=64, vec_cluster_p=0.6,
    n_lineitem=120_000, n_events=60_000,
)

_SUB_KEYS = ("name", "casrn", "inchi", "mw")
_PROP_KEYS = ("assay", "endpoint", "unit", "threshold")


def data_dir(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "data", f"{workload}-{seed}")


def ensure(work: str, workload: str, seed: int) -> str:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``."""
    out = data_dir(work, workload, seed)
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload in STAGING_SPECS:
        truth = gen_staging(out, seed, STAGING_SPECS[workload])
    else:
        truth = gen_mix(out, seed, MIX_SPEC)
    with open(os.path.join(out, "truth.json.tmp"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    os.replace(os.path.join(out, "truth.json.tmp"),
               os.path.join(out, "truth.json"))
    return out


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path,
                   compression="snappy")


def canonical(payload: dict) -> str:
    """The brick's canonical JSON: sorted keys, no empty values."""
    kept = {k: v for k, v in payload.items() if v not in (None, "", [], {})}
    return json.dumps(kept, sort_keys=True, separators=(",", ":"))


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def row_hash(*fields: str) -> int:
    """Order-insensitive set hash term; summed over rows (see verify)."""
    return int(md5("|".join(fields))[:15], 16)


def _render(payload: dict, keys: tuple, rng: np.random.Generator,
            permute: bool) -> str:
    """A staged rendering of ``payload``: permuted key order and an empty
    field the canonicalizer must drop, when ``permute``."""
    order = list(keys)
    if permute:
        rng.shuffle(order)
        d = {k: payload[k] for k in order}
        d["note"] = ""
        return json.dumps(d)
    return json.dumps({k: payload[k] for k in order})


def _dim(rng, src: str, prefix: str, pool: list[dict], keys: tuple,
         n_local: int, alias_share: float, dup_share: float):
    """One source's dimension file: local ids -> pool payloads.

    ``alias_share`` of the local ids re-use a payload the source already
    has (rendered with another key order), so they collapse to one global
    id; ``dup_share`` of the rows are staged twice verbatim."""
    n_alias = int(n_local * alias_share)
    base = rng.choice(len(pool), size=n_local - n_alias, replace=False)
    alias = rng.choice(base, size=n_alias, replace=True)
    payload_idx = np.concatenate([base, alias])
    ids = [f"{src}-{prefix}{k}" for k in range(n_local)]
    data = [_render(pool[j], keys, rng, permute=(k >= len(base)))
            for k, j in enumerate(payload_idx)]
    n_dup = int(n_local * dup_share)
    dup = rng.choice(n_local, size=n_dup, replace=False)
    rows = pd.DataFrame({
        "local": ids + [ids[k] for k in dup],
        "data": data + [data[k] for k in dup],
    })
    return ids, payload_idx, rows


def gen_staging(out: str, seed: int, spec: dict) -> dict:
    """staging/<src>/{substances,properties,activities}.parquet + truth."""
    rng = np.random.default_rng(seed)
    inchis = [f"InChI=1S/C{1 + i % 40}H{2 + i % 81}N{i % 5}O{i % 7}/c{i}x{seed}"
              for i in range(spec["inchi_pool"])]
    sub_inchi = rng.integers(0, spec["inchi_pool"], spec["sub_pool"])
    subs_pool = [
        {"name": f"sub-{seed}-{j}", "casrn": f"{j % 9973}-{j % 97}-{j % 9}",
         "inchi": inchis[sub_inchi[j]],
         "mw": round(float(rng.integers(1000, 90000)) / 100, 2)}
        for j in range(spec["sub_pool"])
    ]
    props_pool = [
        {"assay": f"assay-{seed}-{j}", "endpoint": f"ep{j % 37}",
         "unit": ["uM", "mg/kg", "ppm", "%"][j % 4],
         "threshold": round(float(rng.integers(1, 100000)) / 1000, 3)}
        for j in range(spec["prop_pool"])
    ]
    sub_gid = [md5(canonical(p)) for p in subs_pool]
    prop_gid = [md5(canonical(p)) for p in props_pool]

    sources = [f"src{k:02d}" for k in range(spec["n_sources"])]
    stage = os.path.join(out, "staging")
    truth_subs: set = set()
    truth_props: set = set()
    expected_acts = []
    n_orphans = n_staged = 0
    for src in sources:
        d = os.path.join(stage, src)
        os.makedirs(d)
        sids, sidx, srows = _dim(rng, src, "s", subs_pool, _SUB_KEYS,
                                 spec["subs_per_source"], spec["alias_share"],
                                 spec["dup_share"])
        pids, pidx, prows = _dim(rng, src, "p", props_pool, _PROP_KEYS,
                                 spec["props_per_source"], spec["alias_share"],
                                 spec["dup_share"])
        _write(srows.rename(columns={"local": "sid"}),
               os.path.join(d, "substances.parquet"))
        _write(prows.rename(columns={"local": "pid"}),
               os.path.join(d, "properties.parquet"))
        truth_subs.update((sub_gid[j], src) for j in sidx)
        truth_props.update((prop_gid[j], src) for j in pidx)

        n = spec["acts_per_source"]
        n_dup = int(n * spec["dup_share"])
        n_orph = int(n * spec["orphan_share"])
        n_base = n - n_dup - n_orph
        si = rng.integers(0, len(sids), n_base)
        pi = rng.integers(0, len(pids), n_base)
        val = np.where(rng.random(n_base) < 0.3, "positive", "negative")
        inchi = np.array([subs_pool[j]["inchi"] for j in sidx[si]],
                         dtype=object)
        dup = rng.integers(0, n_base, n_dup)
        # orphans: a local sid (half of them) or pid (the other half) that
        # the source's dimension files never declare
        o_sid = np.array([f"{src}-s-orphan{k}" for k in range(n_orph)],
                         dtype=object)
        o_pid = np.array(pids, dtype=object)[rng.integers(0, len(pids), n_orph)]
        half = n_orph // 2
        o_pid[:half] = [f"{src}-p-orphan{k}" for k in range(half)]
        o_sid[:half] = np.array(sids, dtype=object)[
            rng.integers(0, len(sids), half)]
        acts = pd.DataFrame({
            "aid": [f"{src}-a{k}" for k in range(n)],
            "sid": np.concatenate([np.array(sids, dtype=object)[si],
                                   np.array(sids, dtype=object)[si[dup]],
                                   o_sid]),
            "pid": np.concatenate([np.array(pids, dtype=object)[pi],
                                   np.array(pids, dtype=object)[pi[dup]],
                                   o_pid]),
            "inchi": np.concatenate([inchi, inchi[dup],
                                     rng.choice(inchis, n_orph)]),
            "value": np.concatenate([val, val[dup],
                                     np.full(n_orph, "positive")]),
        })
        acts = acts.iloc[rng.permutation(n)].reset_index(drop=True)
        _write(acts, os.path.join(d, "activities.parquet"))
        n_orphans += n_orph
        n_staged += n
        g_sid = np.array(sub_gid, dtype=object)[sidx[si]]
        g_pid = np.array(prop_gid, dtype=object)[pidx[pi]]
        expected_acts.append(pd.DataFrame(
            {"sid": g_sid, "pid": g_pid, "source": src, "inchi": inchi,
             "value": val}))
    exp = pd.concat(expected_acts).drop_duplicates()
    return {
        "sources": sources,
        "staged_activity_rows": n_staged,
        "dropped_orphans": n_orphans,
        "substances": len(truth_subs),
        "properties": len(truth_props),
        "activities": len(exp),
        "distinct_inchis": int(exp["inchi"].nunique()),
        "substances_hash": str(sum(row_hash(s, src) for s, src in truth_subs)),
        "properties_hash": str(sum(row_hash(p, src) for p, src in truth_props)),
        "activities_hash": str(sum(map(row_hash, (
            exp["sid"] + "|" + exp["pid"] + "|" + exp["source"] + "|"
            + exp["inchi"] + "|" + exp["value"])))),
    }


def _zipf_words(rng, vocab: list[str], n: int) -> list[str]:
    ranks = np.minimum(rng.zipf(1.3, n), len(vocab)) - 1
    return [vocab[r] for r in ranks]


def gen_mix(out: str, seed: int, spec: dict) -> dict:
    """documents / embeddings with planted near-duplicate clusters, plus
    lineitem and events for the core queries."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{seed % 97}x{k}" for k in range(spec["vocab"])]

    # documents: cluster heads are fresh Zipfian texts; members copy the
    # head and replace ~10% of its words
    texts, clusters = [], []
    while len(texts) < spec["n_docs"]:
        size = min(int(rng.geometric(spec["doc_cluster_p"])),
                   spec["n_docs"] - len(texts))
        head = _zipf_words(rng, vocab, int(rng.integers(*spec["doc_words"])))
        clusters.append(size)
        texts.append(" ".join(head))
        for _ in range(size - 1):
            w = list(head)
            for pos in rng.choice(len(w), max(1, len(w) // 10), replace=False):
                w[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(w))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    langs = np.array(["en", "de", "fr", "es", "zh"])[
        rng.choice(5, len(texts), p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    docs = pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k % 20}" for k in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(docs, os.path.join(out, "documents.parquet"))

    # embeddings: cluster members = head + small noise
    vecs, vclusters = [], []
    while len(vecs) < spec["n_vecs"]:
        size = min(int(rng.geometric(spec["vec_cluster_p"])),
                   spec["n_vecs"] - len(vecs))
        head = rng.normal(0, 0.15, spec["dims"])
        vclusters.append(size)
        vecs.append(head)
        for _ in range(size - 1):
            vecs.append(head + rng.normal(0, 0.01, spec["dims"]))
    vecs = [vecs[i] for i in rng.permutation(len(vecs))]
    emb = pd.DataFrame({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": rng.integers(0, 10, len(vecs)).astype(np.int32),
    })
    _write(emb, os.path.join(out, "embeddings.parquet"), pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())]))

    n = spec["n_lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    li = pd.DataFrame({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, n // 30, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 210000, n) / 100, 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1992-01-01")
                       + rng.integers(0, 3600, n).astype("timedelta64[D]")
                       ).astype("datetime64[us]"),
    })
    _write(li, os.path.join(out, "lineitem.parquet"))

    n = spec["n_events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    ev = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us")
               + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 25.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(ev, os.path.join(out, "events.parquet"))
    return {
        "documents": len(docs),
        "doc_clusters": len(clusters),
        "doc_max_cluster": int(max(clusters)),
        "embeddings": len(emb),
        "vec_clusters": len(vclusters),
        "lineitem": len(li),
        "events": len(ev),
    }


if __name__ == "__main__":
    import sys

    work, workload, seed = sys.argv[1:]
    ensure(work, workload, int(seed))
