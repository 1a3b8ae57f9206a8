"""Independent pure-Python references for the benchmark's output checks.

Pipeline: the semantics of ``tests/oracle.py`` (greedy longest-match
mention scan with the "unrecognized" negative, longest-surface then
lexicographic-min linking, the four triple families, lexicographic-min
clique canonicalization) generalised from the fixture constants to any
lexicon tables, plus predicate normalization and the node categories the
metadata reports. Nothing here imports the engine's operators.

Dedup: the expected pair set of each family at its registry parameters
(MinHash band sharing, simhash block tables plus Hamming recheck, shingle
Jaccard with the document-frequency cutoff, hyperplane LSH plus cosine
recheck), recomputed from the raw documents with hashlib and numpy.
"""

from __future__ import annotations

import collections
import hashlib
import re

TOKEN_RE = re.compile(r"[A-Za-z0-9_:.>\-]+")

SO_TO_PRED = {
    "splice_region_variant": "biolink:splice_site_variant_of",
    "splice_polymiridine_variant": "biolink:is_splice_site_variant_of",
    "frameshift_variant": "biolink:is_frameshift_variant_of",
    "missense_variant": "biolink:is_missense_variant_of",
    "protein_altering_variant": "biolink:protein_altering_variant",
    "synonymous_variant": "biolink:is_synonymous_variant_of",
    "intron_variant": "biolink:is_non_coding_variant_of",
}
DEFAULT_PRED = "biolink:is_molecular_consequence_of"

CATEGORY_BY_PREFIX = (
    ("NCBIGene:", "biolink:Gene"),
    ("DOID:", "biolink:Disease"),
    ("CAID:", "biolink:SequenceVariant"),
    ("HGVS:", "biolink:SequenceVariant"),
    ("TURN:", "biolink:InformationContentEntity"),
    ("COHORT:", "biolink:Cohort"),
)


def _category(node_id: str) -> str:
    for prefix, cat in CATEGORY_BY_PREFIX:
        if node_id.startswith(prefix):
            return cat
    return "biolink:NamedThing"


def _variant_id(caid, hgvs):
    if caid:
        return caid
    if hgvs is None:
        return None
    return hgvs if hgvs.startswith("HGVS:") else f"HGVS:{hgvs}"


def _dictionary(lex: dict) -> tuple[dict, int]:
    table: dict[tuple[str, ...], set] = {}

    def add(term, eid, etype):
        if not term or not eid:
            return
        key = tuple(t.lower() for t in TOKEN_RE.findall(term))
        if key:
            table.setdefault(key, set()).add((eid, etype))

    for sym, name, gid in lex["gene"]:
        add(sym, gid, "gene")
        add(name, gid, "gene")
    for dname, did, _ in lex["disease"]:
        add(dname, did, "disease")
    for rsid, caid, hgvs, _, _ in lex["variant"]:
        vid = _variant_id(caid, hgvs)
        add(rsid, vid, "variant")
        add(caid, vid, "variant")
    return {k: min(v) for k, v in table.items()}, max((len(k) for k in table), default=1)


def _detect(text: str, table: dict, max_len: int) -> list[tuple[str, str]]:
    """(entity_id, entity_type) per linked mention position."""
    if not text:
        return []
    toks = [t.lower() for t in TOKEN_RE.findall(text)]
    out, i, n = [], 0, len(toks)
    while i < n:
        step = 1
        for ln in range(min(max_len, n - i), 0, -1):
            hit = table.get(tuple(toks[i:i + ln]))
            if hit:
                if not (i > 0 and toks[i - 1] == "unrecognized"):
                    out.append(hit)
                step = ln
                break
        i += step
    return out


def _canonical(pairs) -> dict[str, str]:
    adj = collections.defaultdict(set)
    for a, b in pairs:
        if a is not None and b is not None:
            adj[a].add(b)
            adj[b].add(a)
    canon: dict[str, str] = {}
    for start in adj:
        if start in canon:
            continue
        comp, stack = set(), [start]
        while stack:
            x = stack.pop()
            if x not in comp:
                comp.add(x)
                stack.extend(adj[x])
        m = min(comp)
        for x in comp:
            canon[x] = m
    return canon


def expected_graph(rows, lex: dict) -> dict:
    """Expected metadata of the final graph for transcript ``rows`` (dicts
    with conv_id, turn_idx, text) under lexicon ``lex`` (gen.py row lists).

    Returns node_count, edge_count, category_counts, predicate_counts and a
    digest of the sorted final triple set."""
    table, max_len = _dictionary(lex)
    assoc = {(did, gid) for _, did, gid in lex["disease"] if gid}
    variant_gene: dict[str, tuple] = {}
    for rsid, caid, hgvs, gid, cons in lex["variant"]:
        vid = _variant_id(caid, hgvs)
        if vid is not None:
            cur = variant_gene.get(vid)
            if cur is None or (gid, cons) < cur:
                variant_gene[vid] = (gid, cons)
    pm = {a: b for a, b in lex["predicate_map"]}

    raw: set[tuple[str, str, str]] = set()
    for r in rows:
        linked = set(_detect(r["text"], table, max_len))
        turn = f"TURN:{r['conv_id']}#{r['turn_idx']}"
        genes_here = {eid for eid, et in linked if et == "gene"}
        for eid, etype in linked:
            raw.add((turn, "biolink:mentions", eid))
            if etype == "disease":
                for gid in genes_here:
                    if (eid, gid) in assoc:
                        raw.add((gid, "biolink:gene_associated_with_condition", eid))
            elif etype == "variant":
                raw.add((eid, "biolink:observed_in", f"COHORT:{r['conv_id']}"))
                gid, cons = variant_gene[eid]
                if gid is not None:
                    raw.add((eid, SO_TO_PRED.get(cons, DEFAULT_PRED), gid))

    canon = _canonical(lex["id_equivalences"])
    node_cats: dict[str, set] = collections.defaultdict(set)
    for s, _, o in raw:
        for x in (s, o):
            node_cats[canon.get(x, x)].add(_category(x))
    edges = {(canon.get(s, s), pm.get(p, p), canon.get(o, o)) for s, p, o in raw}
    cat_counts = collections.Counter(c for cats in node_cats.values() for c in cats)
    pred_counts = collections.Counter(p for _, p, _ in edges)
    digest = hashlib.sha256("\n".join("\t".join(e) for e in sorted(edges)).encode()).hexdigest()
    return {
        "node_count": len(node_cats),
        "edge_count": len(edges),
        "category_counts": dict(sorted(cat_counts.items())),
        "predicate_counts": dict(sorted(pred_counts.items())),
        "dangling_edge_count": 0,
        "edge_digest": digest,
    }


def check_graph(md: dict, expected: dict, table_rows: dict) -> list[str]:
    """Differences between a run's metadata / written table row counts and
    the expected graph (empty list = correct)."""
    errs = []
    for key in ("node_count", "edge_count", "category_counts", "predicate_counts",
                "dangling_edge_count"):
        if md.get(key) != expected[key]:
            errs.append(f"{key}: got {md.get(key)!r}, expected {expected[key]!r}")
    if table_rows.get("kg_nodes") != expected["node_count"]:
        errs.append(f"kg_nodes rows {table_rows.get('kg_nodes')} != {expected['node_count']}")
    if table_rows.get("kg_edges") != expected["edge_count"]:
        errs.append(f"kg_edges rows {table_rows.get('kg_edges')} != {expected['edge_count']}")
    return errs


# --- dedup ---------------------------------------------------------------------
#
# Expected pair sets for the four dedup families at their registry
# parameters, computed with hashlib and numpy from the raw documents.

def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.strip(" ")) if t]


def _shingles(toks: list[str], n: int = 3) -> set[str]:
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _bucket_pairs(keys: dict) -> set[tuple[int, int]]:
    """Pairs (a < b) of ids sharing any key; ``keys``: id -> iterable of keys."""
    buckets = collections.defaultdict(list)
    for i, ks in keys.items():
        for k in ks:
            buckets[k].append(i)
    out = set()
    for ids in buckets.values():
        ids.sort()
        out.update((a, b) for x, a in enumerate(ids) for b in ids[x + 1:])
    return out


def _simhash(toks: list[str], memo: dict) -> int:
    """Bit j = sign of the sum over tokens of ±1 from bit j % 4 of md5 hex
    nibble j // 4."""
    import numpy as np

    counters = np.zeros(64, dtype=np.int64)
    for t in toks:
        signs = memo.get(t)
        if signs is None:
            h = _md5(t)
            signs = memo[t] = np.array(
                [1 if (int(h[j // 4], 16) >> (j % 4)) & 1 else -1 for j in range(64)])
        counters += signs
    return sum(1 << j for j in range(64) if counters[j] > 0)


def _simhash_blocks(n_blocks: int = 6, complete_hamming: int = 3):
    from itertools import combinations

    base, rem = divmod(64, n_blocks)
    bounds, lo = [], 0
    for i in range(n_blocks):
        hi = lo + base + (1 if i < rem else 0)
        bounds.append((lo, hi))
        lo = hi
    return bounds, list(combinations(range(n_blocks), n_blocks - complete_hamming))


def _planes(n_planes: int, dim: int) -> list[list[float]]:
    return [[1.0 if int(_md5(f"plane{i}:{j}")[0], 16) % 2 == 0 else -1.0 for j in range(dim)]
            for i in range(n_planes)]


def expected_dedup(docs: list[dict], embs: list[dict], params: dict) -> dict:
    """family -> {"pairs": {(a, b): value}, "maybe": set of boundary pairs}.

    ``maybe`` holds embedding pairs whose cosine sits within rounding
    distance of the threshold; a run may return them or not."""
    import array

    import numpy as np

    texts = {d["doc_id"]: d["text"] for d in docs}
    toks = {i: _tokens(t) for i, t in texts.items()}
    shingles = {i: _shingles(t) for i, t in toks.items()}
    out = {}

    # MinHash LSH: 8 seeded md5 minima, 4 bands of 2; pairs sharing a band
    memo: dict[str, list[str]] = {}

    def sig(sh):
        for s in sh:
            if s not in memo:
                memo[s] = [_md5(f"seed{k}:{s}") for k in range(8)]
        return [min(memo[s][k] for s in sh) for k in range(8)]

    bands = {i: [(b, "|".join(sg[2 * b:2 * b + 2])) for b in range(4)]
             for i, sg in ((i, sig(sh)) for i, sh in shingles.items())}
    out["minhash_lsh"] = {"pairs": {p: None for p in _bucket_pairs(bands)}, "maybe": set()}

    # simhash64: 3-of-6 block tables, exact Hamming recheck
    smemo: dict = {}
    fp = {i: _simhash(t, smemo) for i, t in toks.items()}
    bounds, combos = _simhash_blocks()
    blocks = {i: [(f >> lo) & ((1 << (hi - lo)) - 1) for lo, hi in bounds] for i, f in fp.items()}
    keys = {i: [(t, tuple(bl[b] for b in combo)) for t, combo in enumerate(combos)]
            for i, bl in blocks.items()}
    pairs = {}
    for a, b in _bucket_pairs(keys):
        ham = bin(fp[a] ^ fp[b]).count("1")
        if ham <= params["simhash64"]["max_hamming"]:
            pairs[(a, b)] = ham
    out["simhash64"] = {"pairs": pairs, "maybe": set()}

    # n-gram Jaccard over shingles with document frequency <= max_df
    p = params["ngram_jaccard"]
    df = collections.Counter(s for sh in shingles.values() for s in sh)
    kept = {i: {s for s in sh if df[s] <= p["max_df"]} for i, sh in shingles.items()}
    pairs = {}
    for a, b in _bucket_pairs(kept):
        inter = len(kept[a] & kept[b])
        jac = round(inter / (len(kept[a]) + len(kept[b]) - inter), 4)
        if jac >= p["threshold"]:
            pairs[(a, b)] = jac
    out["ngram_jaccard"] = {"pairs": pairs, "maybe": set()}

    # embedding LSH: 4 bands x 4 md5-derived hyperplanes, cosine recheck
    p = params["embedding_lsh"]
    vecs = {e["vec_id"]: array.array("f", e["embedding"]).tolist() for e in embs}
    planes = _planes(16, len(next(iter(vecs.values()))))

    ids = sorted(vecs)
    pos = {i: n for n, i in enumerate(ids)}
    mat = np.array([vecs[i] for i in ids], dtype=np.float64)
    # cumsum adds in element order, like the engine's unrolled dot
    bits = np.stack([np.cumsum(mat * np.array(w), axis=1)[:, -1] > 0 for w in planes], axis=1)
    ekeys = {i: [(b, "".join("1" if x else "0" for x in bits[pos[i], 4 * b:4 * b + 4]))
                 for b in range(4)] for i in ids}
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    buckets = collections.defaultdict(list)
    for i, ks in ekeys.items():
        for k in ks:
            buckets[k].append(pos[i])
    lo, hi = p["threshold"] - 5e-4 - 1e-9, p["threshold"] + 5e-4 + 1e-9
    pairs, maybe = {}, set()
    for members in buckets.values():
        m = np.array(sorted(members))
        cos = unit[m] @ unit[m].T
        xs, ys = np.nonzero(np.triu(cos >= lo, k=1))
        for x, y in zip(xs, ys):
            a, b, c = ids[m[x]], ids[m[y]], float(cos[x, y])
            if c >= hi:
                pairs[(a, b)] = round(c, 3)
            else:
                maybe.add((a, b))
    out["embedding_lsh"] = {"pairs": pairs, "maybe": maybe - set(pairs)}
    return out


def check_pairs(family: str, rows: list[tuple], expected: dict) -> list[str]:
    """A run's pairs for one family against the expected set. Every
    returned pair must be expected (so it clears the family's threshold),
    carry the expected score, and every expected pair must be returned."""
    exp, maybe = expected["pairs"], expected["maybe"]
    got = {}
    errs = []
    for r in rows:
        a, b = int(r[0]), int(r[1])
        got[(a, b)] = r[2] if len(r) > 2 else None
    extra = set(got) - set(exp) - maybe
    missing = set(exp) - set(got)
    if extra:
        errs.append(f"{family}: {len(extra)} unexpected pairs, e.g. {sorted(extra)[:3]}")
    if missing:
        errs.append(f"{family}: {len(missing)} expected pairs missing, e.g. {sorted(missing)[:3]}")
    tol = {"simhash64": 0, "ngram_jaccard": 1e-4, "embedding_lsh": 1.5e-3}.get(family)
    if tol is not None:
        bad = [k for k in set(got) & set(exp) if abs(got[k] - exp[k]) > tol]
        if bad:
            errs.append(f"{family}: {len(bad)} pairs with wrong score, e.g. {bad[0]} "
                        f"{got[bad[0]]} vs {exp[bad[0]]}")
    return errs
