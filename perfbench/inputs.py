"""Seeded inputs for every workload: one ``--seed`` decides them all.

- CDC DML messages in the reference's ``gen-dml-map`` shape: a table
  (one topic each), an INSERT/UPDATE/DELETE type, a 1-3 column ``id``
  map mixing strings, positive and negative ints, booleans and
  timestamps under partly non-ASCII column names, a ``data`` map of
  varying width, and an ``info`` block. A fixed share is malformed:
  truncated JSON, a missing ``id`` or an empty ``id``.
- The ten sf-shaped tables, written by ``tools/gen_sf.py`` with its
  random generator re-seeded from the benchmark seed (the tool itself
  pins seed 42).
- The monitor corpus (documents joined to embeddings) split into
  trigger files by a seeded permutation.

Every function is pure in (seed, index): the live generator process
and the checking process rebuild identical messages independently.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import random
import types

DEAD_TOPIC = "cdc-dead-letter"

TABLES = ("orders", "customers", "inventory", "shipments", "payments", "audit_log")
ID_NAMES = ("id", "order_id", "line_no", "sku", "tenant", "ключ", "名前", "clé", "região", "Ωmega")
ID_TYPES = ("str", "int", "bool", "ts")
DATA_NAMES = ("status", "amount", "note", "qty", "city", "flag", "created", "größe", "説明", "price")
DML_TYPES = ("INSERT", "UPDATE", "DELETE")
STRINGS = ("alpha", "Ärger", "naïve", "東京", "zürich", "o'neil", 'quote"d', "tab\tsep", "x", "")

#: Share of malformed messages, split evenly across the three kinds.
MALFORMED_SHARE = 0.03

#: Stream ids keep the per-file random streams of the phases disjoint.
STREAM_WARMUP, STREAM_BACKLOG, STREAM_LIVE = 1, 2, 3


def _rng(seed: int, *parts: int) -> random.Random:
    x = seed
    for p in parts:
        x = x * 1_000_003 + p
    return random.Random(x)


def table_schemas(seed: int) -> dict[str, list[tuple[str, str]]]:
    """Per table: its 1-3 (id column, value type) pairs. Widths and
    types are dealt round-robin before shuffling, so every seed has
    tables of each width and every value type."""
    rng = _rng(seed, 0)
    widths = [i % 3 + 1 for i in range(len(TABLES))]
    rng.shuffle(widths)
    types_ = [ID_TYPES[i % len(ID_TYPES)] for i in range(sum(widths))]
    rng.shuffle(types_)
    out = {}
    for t, w in zip(TABLES, widths):
        out[t] = [(name, types_.pop()) for name in rng.sample(ID_NAMES, w)]
    return out


def _value(rng: random.Random, kind: str):
    if kind == "int":
        return rng.choice((1, -1)) * rng.randint(0, 10**12)
    if kind == "bool":
        return rng.random() < 0.5
    if kind == "ts":
        return f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}.{rng.randint(0, 999):03d}Z"
    return f"{rng.choice(STRINGS)}-{rng.randint(0, 99999)}"


def expected_key(id_map: dict) -> str:
    """The publish key as the reference derives it (core.clj:13-22):
    id entries sorted by column name, flattened to [k1, v1, k2, v2, ...]
    and written as compact JSON with non-ASCII kept verbatim. Written
    independently of cdc.keying so the two can be checked against each
    other."""
    parts = []
    for k in sorted(id_map):
        parts.append(json.dumps(k, ensure_ascii=False))
        parts.append(json.dumps(id_map[k], ensure_ascii=False))
    return "[" + ",".join(parts) + "]"


def dml_file(seed: int, stream: int, index: int, n: int) -> list[tuple[str, str, str | None]]:
    """``n`` messages of one input file as (raw line, expected topic,
    expected key); malformed messages expect the dead-letter topic and
    a NULL key. Every raw line is unique: its ``info.seq`` names the
    stream, file and position."""
    schemas = table_schemas(seed)
    rng = _rng(seed, stream, index)
    out = []
    for j in range(n):
        table = rng.choice(TABLES)
        id_map = {name: _value(rng, kind) for name, kind in schemas[table]}
        data = {rng.choice(DATA_NAMES): _value(rng, rng.choice(ID_TYPES)) for _ in range(rng.randint(0, 8))}
        info = {"seq": f"{stream}.{index}.{j}", "user": rng.choice(STRINGS)}
        msg = {"info": info, "table": table, "type": rng.choice(DML_TYPES), "id": id_map, "data": data}
        ascii_only = rng.random() < 0.5
        u = rng.random()
        if u < MALFORMED_SHARE / 3:
            del msg["id"]
        elif u < 2 * MALFORMED_SHARE / 3:
            msg["id"] = {}
        raw = json.dumps(msg, ensure_ascii=ascii_only)
        if MALFORMED_SHARE * 2 / 3 <= u < MALFORMED_SHARE:
            # cut anywhere after the seq, which keeps the line unique
            keep = len(json.dumps({"info": {"seq": info["seq"]}})) - 2
            raw = raw[: rng.randint(keep, len(raw) - 1)]
        malformed = u < MALFORMED_SHARE
        out.append((raw, DEAD_TOPIC if malformed else table, None if malformed else expected_key(id_map)))
    return out


def write_dml_file(path: str, messages) -> None:
    """Write one file atomically: a dot-named temp file (hidden from the
    file source) renamed into place."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(m[0] for m in messages))
        f.write("\n")
    os.rename(tmp, path)


def _gen_sf_module(repo_root: str, seed: int) -> types.ModuleType:
    """``tools/gen_sf.py`` loaded with its PCG64 seed (42, sf) replaced
    by (seed, sf); nothing else about the tables changes."""
    import numpy as np

    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_sf", os.path.join(repo_root, "tools", "gen_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    seeded = types.ModuleType("numpy_seeded")
    seeded.__dict__.update(np.__dict__)
    seeded.random = types.SimpleNamespace(
        Generator=np.random.Generator,
        PCG64=lambda key: np.random.PCG64([seed, *key[1:]]),
    )
    mod.np = seeded
    return mod


def write_tables(repo_root: str, seed: int, sf: float, out_dir: str) -> None:
    with contextlib.redirect_stdout(io.StringIO()):
        _gen_sf_module(repo_root, seed).generate(sf, out_dir)


def write_corpus(sf_dir: str, seed: int, n_parts: int, out_dir: str) -> int:
    """documents ⋈ embeddings (doc_id = vec_id) as ``n_parts`` parquet
    files, rows assigned to files by a seeded permutation. Files are
    written in part order so the file source replays them in that
    order. Returns the corpus row count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text", "source"])
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "label", "embedding"])
    at = pc.index_in(docs["doc_id"], value_set=emb["vec_id"])
    hit = pc.is_valid(at)
    docs, rows = docs.filter(hit), emb.take(at.filter(hit))
    corpus = docs.append_column("label", rows["label"]).append_column("embedding", rows["embedding"])
    part = np.random.default_rng(seed).permutation(corpus.num_rows) % n_parts
    os.makedirs(out_dir, exist_ok=True)
    for p in range(n_parts):
        pq.write_table(corpus.filter(pa.array(part == p)), os.path.join(out_dir, f"part-{p:03d}.parquet"))
    return corpus.num_rows
