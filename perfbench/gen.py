"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its parameters and a seed: it draws
from one ``random.Random(seed)`` and writes parquet with fixed writer
options, so the same seed gives byte-identical files (``tree_digest``
hashes a generated directory to check that).

Parameters:
- ``mention_share``  share of turns that mention at least one entity;
- ``turns_per_conv`` conversation length;
- ``n_docs``, ``dup_share``  document corpus size and its planted
                     near-duplicate share.
The lexicons are the package's fixture tables (16 genes, 12 diseases,
11 variants, 26 equivalence rows).
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from adding_datasets_to_kg_spark.datagen import transcripts as fixture

# The fixture predicate map, plus one rewrite that changes a predicate the
# pipeline emits, so predicate normalization does real work.
PREDICATE_MAP = [
    ("mentions", "biolink:mentions"),
    ("observed_in", "biolink:observed_in"),
    ("biolink:genetically_associated_with", "biolink:genetically_associated_with"),
    ("associated_with", "biolink:gene_associated_with_condition"),
    ("biolink:protein_altering_variant", "biolink:is_missense_variant_of"),
]


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pylist(rows, schema=schema)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   write_statistics=True)


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# --- lexicons ----------------------------------------------------------------

def fixture_lexicon() -> dict:
    """The package's built-in fixture lexicons, as plain rows."""
    eq = []
    for _, _, gid in fixture.GENES[:10]:
        n = gid.split(":")[1]
        eq.append((gid, f"HGNC:{n}"))
        eq.append((f"HGNC:{n}", f"ENSEMBL:ENSG{n.zfill(11)}"))
    for _, did, _ in fixture.DISEASES[:6]:
        n = did.split(":")[1]
        eq.append((did, f"MONDO:{n.zfill(7)}"))
    return {
        "gene": list(fixture.GENES),
        "disease": list(fixture.DISEASES),
        "variant": list(fixture.VARIANTS),
        "id_equivalences": eq,
        "predicate_map": PREDICATE_MAP,
    }


def write_lexicon(lex: dict, out_dir: str) -> None:
    """Parquet tables in the layout ``load_lexicons`` reads."""
    s = pa.string()
    _write([dict(symbol=a, name=b, gene_id=c) for a, b, c in lex["gene"]],
           pa.schema([("symbol", s), ("name", s), ("gene_id", s)]),
           f"{out_dir}/gene_lexicon.parquet/part-0.parquet")
    _write([dict(name=a, disease_id=b, assoc_gene_id=c) for a, b, c in lex["disease"]],
           pa.schema([("name", s), ("disease_id", s), ("assoc_gene_id", s)]),
           f"{out_dir}/disease_lexicon.parquet/part-0.parquet")
    _write([dict(rsid=a, caid=b, hgvs=c, gene_id=d, consequence=e)
            for a, b, c, d, e in lex["variant"]],
           pa.schema([("rsid", s), ("caid", s), ("hgvs", s), ("gene_id", s),
                      ("consequence", s)]),
           f"{out_dir}/variant_lexicon.parquet/part-0.parquet")
    _write([dict(id_a=a, id_b=b) for a, b in lex["id_equivalences"]],
           pa.schema([("id_a", s), ("id_b", s)]),
           f"{out_dir}/id_equivalences.parquet/part-0.parquet")
    _write([dict(raw_predicate=a, biolink_predicate=b) for a, b in lex["predicate_map"]],
           pa.schema([("raw_predicate", s), ("biolink_predicate", s)]),
           f"{out_dir}/predicate_map.parquet/part-0.parquet")


# --- transcripts ---------------------------------------------------------------

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def corpus_rows(seed: int, lex: dict, n_turns: int, turns_per_conv: int,
                mention_share: float) -> list[dict]:
    """Transcript turns. A mentioning turn carries 1-3 entity surface forms
    (symbol or name for genes, rsid or CAID for variants, in mixed case);
    7% of mentions are preceded by "unrecognized", which suppresses them.
    Rows are written in shuffled order, so turn ordering is the engine's job."""
    import datetime as dt

    rng = random.Random(seed)
    genes, diseases, variants = lex["gene"], lex["disease"], lex["variant"]
    # co-mention a disease with its associated gene often enough that the
    # gene–disease family is populated
    by_id = {g[2]: g for g in genes}
    assoc = [(d[0], by_id[d[2]]) for d in diseases if d[2] in by_id]

    def surface() -> list[str]:
        r = rng.random()
        if r < 0.4:
            sym, name, _ = rng.choice(genes)
            s = sym if rng.random() < 0.7 else name
        elif r < 0.7:
            s = rng.choice(diseases)[0]
        else:
            rsid, caid, _, _, _ = rng.choice(variants)
            s = caid if caid and rng.random() < 0.4 else rsid
        if rng.random() < 0.2:
            s = s.upper() if rng.random() < 0.5 else s.lower()
        words = s.split()
        if rng.random() < 0.07:
            words = ["unrecognized", *words]
        return words

    rows = []
    epoch = dt.datetime(2024, 1, 1)
    n_convs = max(1, n_turns // turns_per_conv)
    for t in range(n_turns):
        c, i = divmod(t, turns_per_conv)
        if c >= n_convs:
            c, i = n_convs - 1, t - (n_convs - 1) * turns_per_conv
        words = [rng.choice(fixture.NOISE) for _ in range(rng.randint(4, 10))]
        if rng.random() < mention_share:
            if assoc and rng.random() < 0.1:
                dname, (sym, _, _) = rng.choice(assoc)
                words[1:1] = [sym, "with", *dname.split()]
            for _ in range(rng.choice((1, 1, 2, 3))):
                pos = rng.randrange(len(words) + 1)
                words[pos:pos] = surface()
        rows.append(dict(conv_id=f"conv{c:07d}", turn_idx=i, role=("user", "assistant", "tool")[i % 3],
                         text=" ".join(words), tool=None,
                         ts=epoch + dt.timedelta(seconds=30 * t)))
    rng.shuffle(rows)
    return rows


def write_corpus(rows: list[dict], out_dir: str, n_files: int = 4) -> None:
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        _write(rows[k * per:(k + 1) * per], TRANSCRIPT_SCHEMA,
               f"{out_dir}/part-{k}.parquet")


# --- documents + embeddings -------------------------------------------------------

DOC_VOCAB = tuple(sorted(set((
    "spark table scan join merge sort hash window batch stream column row "
    "filter order group query value data line part key index node edge graph "
    "vector shard page block cache queue lock commit log file byte word token "
    "parse plan stage task slot core heap spill fetch write read seek sync "
    "model layer weight loss grad train eval score rank label class tree leaf "
    "root path link route port host zone region cloud disk bus wire chip gate"
).split())))
DIM = 64


def documents(seed: int, n_docs: int, dup_share: float) -> tuple[list[dict], list[dict], list[tuple[int, int]]]:
    """(documents rows, embeddings rows, planted pairs).

    A ``dup_share`` of documents are near-copies of an earlier base document
    (1-3 token substitutions over 20-60 tokens); their embeddings are the
    base embedding plus small noise. The planted pairs (base id, copy id)
    measure recall."""
    rng = random.Random(seed * 104729 + 3)
    docs, embs, planted = [], [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            base = rng.randrange(i)
            toks = docs[base]["text"].split()
            for _ in range(rng.randint(1, 3)):
                toks[rng.randrange(len(toks))] = rng.choice(DOC_VOCAB)
            vec = [x + rng.gauss(0.0, 0.02) for x in embs[base]["embedding"]]
            planted.append((base, i))
        else:
            toks = [rng.choice(DOC_VOCAB) for _ in range(rng.randint(20, 60))]
            vec = [rng.gauss(0.0, 0.125) for _ in range(DIM)]
        docs.append(dict(doc_id=i, text=" ".join(toks)))
        embs.append(dict(vec_id=i, embedding=vec))
    return docs, embs, planted


def write_documents(docs: list[dict], embs: list[dict], out_dir: str) -> None:
    _write(docs, pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
           f"{out_dir}/documents.parquet/part-0.parquet")
    _write(embs, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]),
           f"{out_dir}/embeddings.parquet/part-0.parquet")
