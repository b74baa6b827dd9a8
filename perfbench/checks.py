"""Output checks, over plain Python data collected from the outputs.

Every function returns a list of failure messages (empty = passed), so
the self-tests can feed them mutated outputs. Nothing here imports Spark.
"""

from __future__ import annotations

import numpy as np

from gen_abi import expected
from gen_corpus import jaccard, shingles

#: the MinHash and SemDeDup thresholds the curation chain runs with
MINHASH_THRESHOLD = 0.8
SEM_THRESHOLD = 0.9
PACK_BUDGET = 512
#: float tolerance for recomputed similarities at the threshold
EPS = 1e-9


def _diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got!r}, want {want!r}"]


# ---------------------------------------------------------------------------
# evm_day
# ---------------------------------------------------------------------------

def check_table_counts(counts: dict, manifest_day: dict,
                       tokens_total: int, tokens_want: int) -> dict[str, list[str]]:
    """Per warehouse table: today's partition holds the manifest's rows
    (``counts`` has every dt-partitioned table; tokens are not)."""
    out = {t: _diff(f"{t} rows", n, manifest_day["counts"][t])
           for t, n in counts.items()}
    out["tokens"] = _diff("tokens rows", tokens_total, tokens_want)
    return out


def check_verify(result: dict, manifest_day: dict) -> list[str]:
    c = manifest_day["counts"]
    want = {"blocks": c["blocks"], "transactions": c["transactions"],
            "logs": c["logs"], "traces": c["traces"],
            "root_traces": manifest_day["root_traces"]}
    return _diff("verify", dict(result), want)


def check_transfers(rows: list[tuple], planted: list) -> tuple[list[str], int]:
    """Decoded Transfer rows (tx, log_index, token, from, to, value) equal
    the planted ones. Returns (failures, planted rows found)."""
    want = {(t, int(li), tok, f, to, None if v is None else int(v))
            for t, li, tok, f, to, v in planted}
    got = {(t, int(li), tok, f, to, None if v is None else int(v))
           for t, li, tok, f, to, v in rows}
    found = len(want & got)
    fails = []
    if len(rows) != len(got):
        fails.append(f"Transfer: {len(rows) - len(got)} duplicate rows")
    if got != want:
        fails.append(
            f"Transfer: {len(want - got)} planted rows missing, "
            f"{len(got - want)} unexpected rows"
        )
    return fails, found


# ---------------------------------------------------------------------------
# abi_parse
# ---------------------------------------------------------------------------

def check_decoded(table: str, element: dict, address: str, rows: list[dict],
                  planted: list[dict]) -> tuple[list[str], int]:
    """Every decoded row equals its planted row, value for value.
    Returns (failures, planted rows matched exactly)."""
    is_event = element["type"] == "event"
    kcols = (("evt_tx_hash", "evt_index") if is_event
             else ("call_tx_hash", "call_trace_address"))
    params = list(element["inputs"]) + list(element.get("outputs") or [])
    got = {}
    for r in rows:
        got.setdefault((r[kcols[0]], r[kcols[1]]), []).append(r)
    fails, matched = [], 0
    if len(got) != len(rows):
        fails.append(f"{table}: duplicate keys")
    for p in planted:
        key = tuple(p["key"])
        rs = got.pop(key, None)
        if not rs:
            fails.append(f"{table}: planted row {key} missing")
            continue
        r = rs[0]
        bad = [
            i["name"] for i in params
            if r.get(i["name"]) != expected(i["type"], p["values"][i["name"]])
        ]
        if r.get("contract_address") != address:
            bad.append("contract_address")
        if not is_event and r.get("call_success") != p["success"]:
            bad.append("call_success")
        if bad:
            fails.append(f"{table}: row {key} differs in {bad}")
        else:
            matched += 1
    if got:
        fails.append(f"{table}: {len(got)} rows that were never planted")
    return fails, matched


def check_transfer_count(table: str, source_rows: int, copied: int,
                         target_rows: int) -> list[str]:
    return (_diff(f"{table} transfer returned", copied, source_rows)
            + _diff(f"{table} target rows", target_rows, source_rows))


# ---------------------------------------------------------------------------
# llm_curation
# ---------------------------------------------------------------------------

def check_gate(gated: set, manifest: dict) -> list[str]:
    fails = []
    low = set(manifest["low_quality"]) & gated
    if low:
        fails.append(f"quality gate kept {len(low)} planted low-quality docs")
    members = {i for k in ("exact_groups", "near_groups", "sem_groups")
               for g in manifest[k] for i in g}
    lost = members - gated
    if lost:
        fails.append(f"quality gate dropped {len(lost)} planted prose docs")
    return fails


def check_exact(uniq: set, keep_ids: list, gated: set, texts: dict,
                manifest: dict) -> list[str]:
    """Exactly one survivor (the minimum id) per exact group, and one
    survivor per distinct normalised text overall."""
    fails = []
    if len(keep_ids) != len(set(keep_ids)):
        fails.append("exact: a keep_id appears twice")
    if set(keep_ids) != uniq:
        fails.append("exact: survivors differ from the groups' keep_ids")
    norm = {}
    for i in gated:
        norm.setdefault(" ".join(texts[i].lower().split()), []).append(i)
    want = {min(ids) for ids in norm.values()}
    if uniq != want:
        fails.append(
            f"exact: {len(want - uniq)} missing / {len(uniq - want)} extra "
            "survivors against the recomputed distinct texts")
    for g in manifest["exact_groups"]:
        if len(uniq & set(g)) != 1:
            fails.append(f"exact: group {g} keeps {len(uniq & set(g))}")
    return fails


def check_minhash_pairs(pairs: list[tuple], texts: dict,
                        threshold: float = MINHASH_THRESHOLD) -> list[str]:
    fails = []
    for a, b in pairs:
        if a >= b:
            fails.append(f"minhash: pair ({a}, {b}) not ordered")
            continue
        j = jaccard(shingles(texts[a]), shingles(texts[b]))
        if j < threshold - EPS:
            fails.append(f"minhash: pair ({a}, {b}) has Jaccard {j:.4f}")
    return fails


def check_clusters(clusters: dict, pairs: list[tuple]) -> list[str]:
    """cluster_id is the minimum id of each connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in parent}
    fails = []
    if set(clusters) != set(want):
        fails.append("clusters: node set differs from the pair endpoints")
    bad = [i for i in want if clusters.get(i) != want[i]]
    if bad:
        fails.append(f"clusters: {len(bad)} nodes carry a wrong cluster_id")
    return fails


def check_centroids(centroids: np.ndarray, k: int) -> list[str]:
    fails = []
    if not 1 <= len(centroids) <= k:
        fails.append(f"centroids: {len(centroids)} trained, asked for {k}")
    elif not np.allclose(np.linalg.norm(centroids, axis=1), 1.0, atol=1e-6):
        fails.append("centroids: not unit norm")
    return fails


def check_semdedup(decisions: list[tuple], vecs: dict,
                   threshold: float = SEM_THRESHOLD) -> list[str]:
    """decisions: (doc_id, sem_cluster_id, kept). One kept member (the
    minimum id) per group; every drop has cosine >= threshold with some
    other member of its group (recomputed with numpy)."""
    groups: dict[int, list] = {}
    for i, c, kept in decisions:
        groups.setdefault(c, []).append((i, kept))
    fails = []
    for c, members in groups.items():
        kept = [i for i, k in members if k]
        if kept != [min(i for i, _ in members)] or c != kept[0]:
            fails.append(f"semdedup: group {c} keeps {kept}")
        if len(members) < 2:
            continue
        ids = [i for i, _ in members]
        m = np.stack([vecs[i] for i in ids]).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sim = m @ m.T
        np.fill_diagonal(sim, -1.0)
        for row, (i, k) in enumerate(members):
            if not k and sim[row].max() < threshold - 1e-6:
                fails.append(
                    f"semdedup: drop {i} has max cosine {sim[row].max():.4f}")
    return fails


def check_pack(rows: list[tuple], final_texts: dict,
               budget: int = PACK_BUDGET) -> list[str]:
    """rows: (doc_id, shard, n_tokens, offset, seq_start, seq_end). Within
    a shard, docs lie end to end in id order, from offset 0."""
    fails = []
    want_ids = {i for i, t in final_texts.items() if t.split()}
    if {r[0] for r in rows} != want_ids or len(rows) != len(want_ids):
        fails.append("pack: packed docs differ from the curated docs")
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r[1], []).append(r)
    for shard, rs in by_shard.items():
        off = 0
        for i, _s, n, o, s0, s1 in sorted(rs):
            if n != len(final_texts.get(i, "").split()) or o != off \
                    or s0 != o // budget or s1 != (o + n - 1) // budget:
                fails.append(f"pack: doc {i} in shard {shard} misplaced")
                break
            off += n
    return fails


def planted_recall(final: set, manifest: dict) -> float:
    """Share of planted duplicate groups with exactly one survivor."""
    groups = [g for k in ("exact_groups", "near_groups", "sem_groups")
              for g in manifest[k]]
    return sum(len(final & set(g)) == 1 for g in groups) / len(groups)
