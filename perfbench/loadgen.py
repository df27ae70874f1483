"""Seeded load generator, kept apart from the system under test.

Inputs are a pure function of the workload seed and are cached under
`<work>/inputs/` (one directory per seed, published by an atomic rename),
so a later run with the same seed reads exactly the same files and pays
nothing for generation. Nothing here is timed.

- Transcripts (`kg_build`): `tcmkg.fixtures.transcripts.generate_pandas`
  at a seed-derived conversation offset, written with the same explicit
  Arrow schema as `write_parquet` (which has no offset parameter). The
  pandas frame carries nanosecond timestamps, which Spark 4 refuses to
  read back (PARQUET_TYPE_ILLEGAL), hence the `timestamp("us", "UTC")`
  column. The plain-Python oracle's triples for the same rows are cached
  next to the parquet; they are the expected output.
- Documents (`dedup`): hash-of-(seed, key) token sequences with three
  planted properties: near-duplicate clusters, multi-hop chains whose
  ends are no longer similar, and a block of identical boilerplate larger
  than `near_dedup`'s `max_bucket`, so the hot-bucket route runs. Ids
  are scattered over the id space by a seeded permutation, except that
  each chain's ids rise along the chain: the min label then always starts
  at one end, so CC needs the same number of rounds for every seed, and
  the seed changes the content but not the amount of work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

N_CONVERSATIONS = 4000
N_DOCS = 20000
# near_dedup's default max_bucket is 256: one identical-text block above it
# forces every band bucket of the block over the cap
N_BOILERPLATE = 300
N_CHAINS, CHAIN_LEN = 30, 8
VOCAB = 50_000


def _publish(path: str, build) -> str:
    """Run `build(tmp_dir)` once per path; concurrent or crashed builds
    never leave a half-written directory at `path`."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.replace(tmp, path)
    except OSError:  # another run published first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.blake2b(repr(parts).encode(), digest_size=8).digest(), "big"
    )


def transcripts(work: str, seed: int) -> dict:
    """-> {"path": parquet dir, "turns": row count, "oracle": path of the
    expected triples JSON, "canon": the canonicalization cache directory}."""
    path = os.path.join(work, "inputs", f"transcripts-n{N_CONVERSATIONS}-s{seed}")

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tcmkg.fixtures.gazetteers import build_gazetteers
        from tcmkg.fixtures.transcripts import generate_pandas
        from tcmkg.oracle.extractor import OracleExtractor

        offset = (seed % 997) * N_CONVERSATIONS
        pdf = generate_pandas(N_CONVERSATIONS, conv_offset=offset)
        schema = pa.schema([
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ])
        os.makedirs(os.path.join(tmp, "data"))
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            os.path.join(tmp, "data", "part-00000.parquet"),
        )
        expected = OracleExtractor(build_gazetteers()).extract(pdf.to_dict("records"))
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump({"turns": len(pdf), "triples": sorted(expected, key=str)}, f)

    _publish(path, build)
    with open(os.path.join(path, "oracle.json")) as f:
        turns = json.load(f)["turns"]
    return {"path": os.path.join(path, "data"), "turns": turns,
            "oracle": os.path.join(path, "oracle.json"),
            # gazetteer canonicalization cache, shared by every seed
            "canon": os.path.join(work, "inputs", "canon")}


def load_oracle(path: str) -> dict[tuple[str, str, str], float | None]:
    with open(path) as f:
        return {(s, p, o): w for s, p, o, w in json.load(f)["triples"]}


def _doc_specs(seed: int) -> list[tuple[str, list[str]]]:
    """(kind, tokens) per document before ids are assigned; the chains
    are N_CHAINS consecutive runs of CHAIN_LEN "chain" documents."""

    def fresh(key, n):
        return [f"w{_h(seed, key, i) % VOCAB}" for i in range(n)]

    def mutate(tokens, key, n_sub):
        out = list(tokens)
        for j in range(n_sub):
            out[_h(seed, key, "pos", j) % len(out)] = f"v{_h(seed, key, 'tok', j) % VOCAB}"
        return out

    specs: list[tuple[str, list[str]]] = []
    boiler = fresh("boilerplate", 40)
    specs += [("boilerplate", boiler)] * N_BOILERPLATE
    # near-duplicate clusters: 2-5 members, one or two substituted tokens
    for c in range(150):
        base = fresh(("cluster", c), 40 + _h(seed, "clen", c) % 40)
        specs.append(("cluster", base))
        for m in range(1 + _h(seed, "csize", c) % 4):
            specs.append(("cluster", mutate(base, ("cm", c, m), 1 + m % 2)))
    # chains: each hop rewrites ~8% of the previous hop, so adjacent docs
    # verify but the ends do not, and CC needs several rounds
    for c in range(N_CHAINS):
        cur = fresh(("chain", c), 60)
        specs.append(("chain", cur))
        for hop in range(CHAIN_LEN - 1):
            cur = mutate(cur, ("hop", c, hop), 5)
            specs.append(("chain", cur))
    k = 0
    while len(specs) < N_DOCS:
        specs.append(("single", fresh(("single", k), 30 + _h(seed, "slen", k) % 60)))
        k += 1
    return specs


def documents(work: str, seed: int) -> dict:
    """-> {"path": parquet dir, "docs": count, "boilerplate": sorted ids}."""
    path = os.path.join(work, "inputs", f"documents-n{N_DOCS}-chained-s{seed}")

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        specs = _doc_specs(seed)
        # scatter the planted docs over the id space by a seeded permutation
        order = sorted(range(len(specs)), key=lambda i: _h(seed, "perm", i))
        id_of = [0] * len(specs)
        for doc_id, i in enumerate(order):
            id_of[i] = doc_id
        first = next(i for i, (kind, _) in enumerate(specs) if kind == "chain")
        for c in range(N_CHAINS):
            chain = range(first + c * CHAIN_LEN, first + (c + 1) * CHAIN_LEN)
            for i, doc_id in zip(chain, sorted(id_of[i] for i in chain)):
                id_of[i] = doc_id
        ids, texts, boiler = [], [], []
        for doc_id, i in sorted((d, i) for i, d in enumerate(id_of)):
            kind, tokens = specs[i]
            ids.append(doc_id)
            texts.append(" ".join(tokens))
            if kind == "boilerplate":
                boiler.append(doc_id)
        os.makedirs(os.path.join(tmp, "data"))
        table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
        pq.write_table(table, os.path.join(tmp, "data", "part-00000.parquet"))
        with open(os.path.join(tmp, "planted.json"), "w") as f:
            json.dump({"docs": len(ids), "boilerplate": boiler}, f)

    _publish(path, build)
    with open(os.path.join(path, "planted.json")) as f:
        planted = json.load(f)
    return {"path": os.path.join(path, "data"), **planted}
