"""Seeded input generation for the lifecycle benchmark.

Every input a workload feeds the engine comes from one `random.Random`
seeded by the `--seed` argument, so the same seed gives byte-identical
inputs. `fingerprint()` hashes a canonical JSON form of any generated
structure; the run record carries it so two runs can prove they saw the
same inputs.

Sizes live in the `*_SIZES` dicts at the top so a reader sees them at once.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import math
import random

SERVE_SIZES = {
    "orders": 6_000,         # x up to 4 lines -> ~15k base rows
    "dup_key_frac": 0.05,    # base keys written twice; latest l_seq wins
    "vec_dim": 8,
    "delta_rows": 1_000,     # rows per lazy incremental push
    "delta_insert_frac": 0.3,
    "batch_keys": 100,
    "compute_keys": 64,
    "zipf_s": 1.1,
    "recent_read_frac": 0.5,  # reads aimed at keys written by recent deltas
}

RT_SIZES = {
    "hybrid_keys": 3_000,
    "aa_keys": 60,
    "ops_per_round": 200,
    "delete_frac": 0.15,
    "update_frac": 0.35,     # AA only: field-level partial updates
    "zipf_s": 1.1,
}

CORPUS_SIZES = {
    "docs": 1_000,           # distinct base documents
    "exact_dup_frac": 0.05,  # extra copies (case/whitespace variants)
    "near_dup_frac": 0.05,   # token-edited copies, vectors planted close
    "contam_frac": 0.02,     # docs carrying a span of an eval document
    "eval_docs": 40,
    "vec_dim": 16,
    "queries": 48,
}

LINEITEM_SCHEMA = (
    "l_orderkey long, l_linenumber int, l_quantity int, l_extendedprice double, "
    "l_returnflag string, l_shipmode string, l_seq long, l_vec array<double>"
)
_FLAGS = ["A", "N", "R"]
_MODES = ["AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR"]


def fingerprint(obj) -> str:
    """sha256 of the canonical JSON of `obj` (floats via repr, exact)."""
    data = json.dumps(obj, sort_keys=True, separators=(",", ":"), default=repr)
    return hashlib.sha256(data.encode()).hexdigest()


class Zipf:
    """Zipf(s) sampler over `n` items; rank r maps to a seeded permutation
    so the hot items are scattered over the key space."""

    def __init__(self, rng: random.Random, n: int, s: float):
        weights = [1.0 / (r + 1) ** s for r in range(n)]
        self.cum = list(itertools.accumulate(weights))
        self.perm = list(range(n))
        rng.shuffle(self.perm)

    def sample(self, rng: random.Random) -> int:
        return self.perm[bisect.bisect_left(self.cum, rng.random() * self.cum[-1])]

    def top_share(self, frac: float) -> float:
        """Share of draws landing on the hottest `frac` of items."""
        k = max(1, int(len(self.cum) * frac))
        return self.cum[k - 1] / self.cum[-1]


def _vec(rng: random.Random, dim: int) -> list[float]:
    return [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)]


# ---------------------------------------------------------------- serve_write
class ServeInputs:
    """Lineitem-shaped composite-key rows plus the seeded read/write streams.

    `model` maps (l_orderkey, l_linenumber) -> the row tuple a reader must
    see; every generator that writes also updates the model."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.base_rows = self._base()
        self.model: dict[tuple, tuple] = {}
        for r in sorted(self.base_rows, key=lambda r: r[6]):
            self.model[(r[0], r[1])] = r
        self.keys = sorted(self.model)
        self.zipf = Zipf(self.rng, len(self.keys), SERVE_SIZES["zipf_s"])
        self.next_order = SERVE_SIZES["orders"] + 1
        self.seq = len(self.base_rows)
        self.recent: list[tuple] = []

    def _row(self, key: tuple, seq: int) -> tuple:
        rng = self.rng
        return (
            key[0],
            key[1],
            rng.randint(1, 50),
            round(rng.uniform(900.0, 105_000.0), 2),
            rng.choice(_FLAGS),
            rng.choice(_MODES),
            seq,
            _vec(rng, SERVE_SIZES["vec_dim"]),
        )

    def _base(self) -> list[tuple]:
        rows, seq = [], 0
        for o in range(1, SERVE_SIZES["orders"] + 1):
            for line in range(1, self.rng.randint(1, 4) + 1):
                rows.append(self._row((o, line), seq))
                seq += 1
        dups = self.rng.sample(range(len(rows)), int(len(rows) * SERVE_SIZES["dup_key_frac"]))
        for i in dups:
            rows.append(self._row((rows[i][0], rows[i][1]), seq))
            seq += 1
        self.rng.shuffle(rows)
        return rows

    def properties(self) -> dict:
        n_dup = len(self.base_rows) - len(self.model)
        return {
            "base_rows": len(self.base_rows),
            "distinct_keys": len(self.model),
            "dup_key_rows": n_dup,
            "dup_frac": round(n_dup / len(self.base_rows), 4),
            "row_bytes": row_bytes(self.base_rows),
            "zipf_s": SERVE_SIZES["zipf_s"],
            "zipf_top1pct_share": round(self.zipf.top_share(0.01), 4),
            "fingerprint": fingerprint(self.base_rows),
        }

    def zipf_key(self) -> tuple:
        return self.keys[self.zipf.sample(self.rng)]

    def read_key(self) -> tuple:
        """Half the reads aim at keys a recent delta wrote."""
        if self.recent and self.rng.random() < SERVE_SIZES["recent_read_frac"]:
            return self.rng.choice(self.recent)
        return self.zipf_key()

    def read_keys(self, n: int) -> list[tuple]:
        out, seen = [], set()
        while len(out) < n:
            k = self.read_key()
            if k not in seen:
                seen.add(k)
                out.append(k)
        return out

    def delta(self) -> list[tuple]:
        """One incremental push: updates of Zipf-hot keys plus fresh inserts;
        keys are unique within the delta."""
        n = SERVE_SIZES["delta_rows"]
        n_ins = int(n * SERVE_SIZES["delta_insert_frac"])
        keys: dict[tuple, None] = {}
        while len(keys) < n - n_ins:
            keys[self.zipf_key()] = None
        while len(keys) < n:
            o = self.next_order
            self.next_order += 1
            for line in range(1, self.rng.randint(1, 4) + 1):
                if len(keys) < n:
                    keys[(o, line)] = None
        rows = []
        for k in keys:
            self.seq += 1
            rows.append(self._row(k, self.seq))
        for r in rows:
            key = (r[0], r[1])
            if key not in self.model:
                self.keys.append(key)
            self.model[key] = r
        self.recent = [(r[0], r[1]) for r in rows]
        return rows


def row_bytes(rows) -> int:
    """Raw payload size of generated rows: 8 bytes per number, UTF-8 length
    per string, summed over lists."""

    def size(v) -> int:
        if isinstance(v, str):
            return len(v.encode())
        if isinstance(v, (list, tuple)):
            return sum(size(x) for x in v)
        return 8

    return sum(size(r) for r in rows)


# ------------------------------------------------- RT rounds (serve_write)
class RtInputs:
    """Seeded RT op streams for one hybrid and one active-active store.

    Timestamps are distinct across the whole run; each round draws them from
    a window overlapping the previous round's, so some ops arrive older than
    what the store already holds and must lose."""

    HYBRID_SCHEMA = "k long, op string, ts long, colo int, v long, s string"
    AA_SCHEMA = "k long, op string, ts long, colo int, name string, score double, set_name string, set_score double"

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        n_h, n_a = RT_SIZES["hybrid_keys"], RT_SIZES["aa_keys"]
        self.hybrid_base = [(k, self.rng.randint(0, 10**9), f"h{k}") for k in range(n_h)]
        self.aa_base = [(k, f"n{k}", round(self.rng.uniform(0, 100), 3)) for k in range(n_a)]
        self.zipf_h = Zipf(self.rng, n_h, RT_SIZES["zipf_s"])
        self.zipf_a = Zipf(self.rng, n_a, RT_SIZES["zipf_s"])
        self.used_ts: set[int] = set()
        self.round = 0
        # hybrid model: key -> (ts, value tuple or None for a tombstone)
        self.hybrid_model = {k: (0, (v, s)) for k, v, s in self.hybrid_base}
        self.aa_ops: list[dict] = []

    def properties(self) -> dict:
        return {
            "hybrid_keys": len(self.hybrid_base),
            "aa_keys": len(self.aa_base),
            "ops_per_round": RT_SIZES["ops_per_round"],
            "delete_frac": RT_SIZES["delete_frac"],
            "aa_update_frac": RT_SIZES["update_frac"],
            "zipf_s": RT_SIZES["zipf_s"],
            "zipf_top1pct_share": round(self.zipf_h.top_share(0.01), 4),
            "fingerprint": fingerprint([self.hybrid_base, self.aa_base]),
        }

    def _timestamps(self, n: int) -> list[int]:
        lo = 1 + self.round * (n * 3 // 2)
        out = []
        while len(out) < n:
            t = self.rng.randrange(lo, lo + 2 * n)
            if t not in self.used_ts:
                self.used_ts.add(t)
                out.append(t)
        self.round += 1
        return out

    def hybrid_round(self) -> list[dict]:
        n = RT_SIZES["ops_per_round"]
        ops = []
        for ts in self._timestamps(n):
            k = self.zipf_h.sample(self.rng)
            if self.rng.random() < RT_SIZES["delete_frac"]:
                op = {"k": k, "op": "DELETE", "ts": ts, "colo": 0, "v": None, "s": None}
                val = None
            else:
                v, s = self.rng.randint(0, 10**9), f"r{self.round}-{ts}"
                op = {"k": k, "op": "PUT", "ts": ts, "colo": 0, "v": v, "s": s}
                val = (v, s)
            ops.append(op)
            if ts > self.hybrid_model[k][0]:
                self.hybrid_model[k] = (ts, val)
        return ops

    def aa_round(self) -> list[dict]:
        """PUTs, field-level UPDATEs and DELETEs split over two colos."""
        n = RT_SIZES["ops_per_round"]
        ops = []
        for ts in self._timestamps(n):
            k = self.zipf_a.sample(self.rng)
            colo = self.rng.randint(0, 1)
            row = {"k": k, "ts": ts, "colo": colo, "name": None, "score": None,
                   "set_name": None, "set_score": None}
            u = self.rng.random()
            if u < RT_SIZES["delete_frac"]:
                row["op"] = "DELETE"
            elif u < RT_SIZES["delete_frac"] + RT_SIZES["update_frac"]:
                row["op"] = "UPDATE"
                if self.rng.random() < 0.5:
                    row["set_name"] = f"u{ts}"
                else:
                    row["set_score"] = round(self.rng.uniform(0, 100), 3)
            else:
                row["op"] = "PUT"
                row["name"] = f"p{ts}"
                row["score"] = round(self.rng.uniform(0, 100), 3)
            ops.append(row)
        self.aa_ops.extend(ops)
        return ops


def aa_visible_expectations(round_ops: list[dict], prior_ops: list[dict]) -> dict:
    """Keys whose outcome after this round is decided without the DCR fold:
    the round's newest op on the key is newer than every earlier op on it and
    is a full PUT (key -> (name, score)) or a DELETE (key -> None)."""
    newest_prior: dict[int, int] = {}
    for o in prior_ops:
        newest_prior[o["k"]] = max(newest_prior.get(o["k"], 0), o["ts"])
    last: dict[int, dict] = {}
    for o in round_ops:
        if o["k"] not in last or o["ts"] > last[o["k"]]["ts"]:
            last[o["k"]] = o
    out = {}
    for k, o in last.items():
        if o["ts"] > newest_prior.get(k, 0) and o["op"] in ("PUT", "DELETE"):
            out[k] = (o["name"], o["score"]) if o["op"] == "PUT" else None
    return out


# ---------------------------------------------------------------- corpus_prep
_STOP = ["the", "a", "and", "of", "to", "in", "is", "it"]


class CorpusInputs:
    """Synthetic crawl: base documents over a Zipf vocabulary, planted exact
    duplicates (case/whitespace variants), near duplicates (a few token
    edits, vectors planted next to the original's) and eval contamination
    (a span of an eval document, whose vocabulary no other text uses)."""

    SCHEMA = "doc_id long, text string, vec array<double>"
    EVAL_SCHEMA = "doc_id long, text string"

    def __init__(self, seed: int):
        rng = self.rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(4000)]
        zipf = Zipf(rng, len(vocab), 1.05)
        dim = CORPUS_SIZES["vec_dim"]

        def words(n: int) -> list[str]:
            return [
                rng.choice(_STOP) if rng.random() < 0.25 else vocab[zipf.sample(rng)]
                for _ in range(n)
            ]

        self.eval_docs = [
            (i, " ".join(f"ev{i}x{j}" for j in range(30))) for i in range(CORPUS_SIZES["eval_docs"])
        ]
        n = CORPUS_SIZES["docs"]
        docs = [[i, words(rng.randint(40, 120)), _vec(rng, dim)] for i in range(n)]
        next_id = n
        # near duplicates first, from bases that are not exact-dup sources
        bases = rng.sample(range(n), int(n * (CORPUS_SIZES["near_dup_frac"] + CORPUS_SIZES["exact_dup_frac"])))
        n_near = int(n * CORPUS_SIZES["near_dup_frac"])
        near_src, exact_src = bases[:n_near], bases[n_near:]
        self.near_pairs: list[tuple[int, int]] = []
        for b in near_src:
            toks = list(docs[b][1])
            for _ in range(max(1, len(toks) // 40)):
                toks[rng.randrange(len(toks))] = vocab[zipf.sample(rng)]
            vec = [round(x + rng.gauss(0, 0.01), 6) for x in docs[b][2]]
            docs.append([next_id, toks, vec])
            self.near_pairs.append((b, next_id))
            next_id += 1
        self.exact_groups: list[list[int]] = []
        for b in exact_src:
            group = [b]
            for _ in range(rng.randint(1, 3)):
                docs.append([next_id, [t.upper() if rng.random() < 0.3 else t for t in docs[b][1]],
                             _vec(rng, dim)])
                group.append(next_id)
                next_id += 1
            self.exact_groups.append(group)
        dup_ids = {i for g in self.exact_groups for i in g} | {i for p in self.near_pairs for i in p}
        clean = [d for d in docs if d[0] not in dup_ids]
        self.contaminated = set()
        for d in rng.sample(clean, int(n * CORPUS_SIZES["contam_frac"])):
            ev = self.eval_docs[rng.randrange(len(self.eval_docs))][1].split()
            at = rng.randrange(len(d[1]))
            d[1] = d[1][:at] + ev[5:15] + d[1][at:]
            self.contaminated.add(d[0])
        # whitespace variants keep exact-dup groups byte-distinct
        self.docs = [
            (i, ("  " if i % 2 else " ").join(toks), vec) for i, toks, vec in docs
        ]
        rng.shuffle(self.docs)
        self.queries = [
            (10**6 + j, [round(x + rng.gauss(0, 0.02), 6) for x in d[2]])
            for j, d in enumerate(rng.sample(self.docs, CORPUS_SIZES["queries"]))
        ]

    def properties(self) -> dict:
        return {
            "docs": len(self.docs),
            "base_docs": CORPUS_SIZES["docs"],
            "exact_dup_groups": len(self.exact_groups),
            "exact_dup_copies": sum(len(g) - 1 for g in self.exact_groups),
            "near_dup_pairs": len(self.near_pairs),
            "contaminated": len(self.contaminated),
            "dup_frac": round(
                (sum(len(g) - 1 for g in self.exact_groups) + len(self.near_pairs))
                / len(self.docs), 4
            ),
            "bytes": row_bytes([d[1] for d in self.docs]),
            "vec_dim": CORPUS_SIZES["vec_dim"],
            "fingerprint": fingerprint([self.docs, self.eval_docs, self.queries]),
        }


def cosine(a: list[float], b: list[float]) -> float:
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb) if na and nb else float("nan")
