"""Seeded benchmark inputs.

The engine only ever sees files and records made here. Table inputs are
derived from the vendored sf0.01 fixture in ``perfbench/fixture``; the
sheet_sync snapshots are generated. The seed fixes:

- the row order of every table (a seeded permutation);
- for near-duplicate workloads, which documents and vectors form the
  base set, and for each replica its key offset, its tag token and its
  embedding perturbation.

Base keys are never shifted: catalog queries select by literal key
ranges (l13's centroids are ``vec_id < 8``), so a shifted key would turn
them into empty, trivially matching results. Replica keys get a seeded
offset applied to doc_id and vec_id alike (the consistent-offset scheme
of ``scripts/build_sf1_fixture.py``).
"""

from __future__ import annotations

import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
NEAR_DUP_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}
# Replica r of a base row gets id + r × REPLICA_OFF + a seeded offset
# below REPLICA_OFF (fixture ids are < 1e5).
REPLICA_OFF = 1_000_000
# Ids the catalog's literal ranges select (vec_id < 10, vec_id < 8)
# stay in every base subset.
PINNED_IDS = 16


def _base_subset(table: pa.Table, id_col: str, keep: int, rng: np.random.Generator) -> pa.Table:
    ids = np.asarray(table[id_col].to_pylist())
    pinned = np.flatnonzero(ids < PINNED_IDS)
    rest = np.flatnonzero(ids >= PINNED_IDS)
    chosen = np.concatenate([pinned, rng.choice(rest, keep - len(pinned), replace=False)])
    return table.take(pa.array(np.sort(chosen)))


def _replicas(table: pa.Table, name: str, replicas: int, rng: np.random.Generator) -> pa.Table:
    """Replicate documents/embeddings into near-duplicates: replica r
    appends one seeded tag token to the text (Jaccard stays near 1, so
    LSH buckets stay dense) or nudges coordinate 0 of the vector by a
    seeded step of about r × 1e-3 (every IVF cell gets r times the
    density)."""
    id_col = NEAR_DUP_TABLES[name]
    parts = [table]
    for r in range(1, replicas):
        offset = r * REPLICA_OFF + int(rng.integers(0, REPLICA_OFF // 2))
        rep = table.set_column(
            table.schema.get_field_index(id_col), id_col,
            pc.add(table[id_col], pa.scalar(offset, pa.int64())),
        )
        if name == "documents":
            tag = f" replicatag{int(rng.integers(0, 1_000_000))}"
            text = pc.binary_join_element_wise(rep["text"], pa.scalar(tag), "")
            rep = rep.set_column(rep.schema.get_field_index("text"), "text", text)
            rep = rep.set_column(
                rep.schema.get_field_index("n_chars"), "n_chars",
                pc.cast(pc.utf8_length(text), pa.int64()),
            )
        else:
            step = r * 1e-3 * (1.0 + float(rng.random()))
            vecs = [
                None if v is None else [v[0] + step, *v[1:]]
                for v in rep["embedding"].to_pylist()
            ]
            rep = rep.set_column(
                rep.schema.get_field_index("embedding"), "embedding",
                pa.array(vecs, type=rep.schema.field("embedding").type),
            )
        parts.append(rep)
    return pa.concat_tables(parts)


def derive_tables(
    seed: int, out_dir: str, replicas: int = 1, near_dup_base: int | None = None
) -> dict[str, int]:
    """Write every catalog table for ``seed`` under ``out_dir``; return
    the row count per table. With ``near_dup_base``, documents and
    embeddings keep a seeded base subset of that many rows, and
    ``replicas`` > 1 turns them into near-duplicate sets."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        if name in NEAR_DUP_TABLES:
            if near_dup_base is not None:
                table = _base_subset(table, NEAR_DUP_TABLES[name], near_dup_base, rng)
            if replicas > 1:
                table = _replicas(table, name, replicas, rng)
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = table.num_rows
    return sizes


# ---------------------------------------------------------------------------
# sheet_sync snapshots: the reference's nested REST tree
# (tournaments → events → markets → lines → selections).

TOURNAMENT_NAMES = ("NBA", "NHL", "EPL", "ATP", "MLB", "NFL", "WTA", "UCL")
WHITELIST = ("NBA", "NHL", "EPL", "ATP")
EVENTS_PER_TOURNAMENT = 4
# Instants on both sides of the 2024 US DST changes.
_DST_EDGES = ("2024-03-10T07:00:00", "2024-11-03T06:00:00")


def _instant(rng: random.Random) -> datetime.datetime:
    edge = datetime.datetime.fromisoformat(rng.choice(_DST_EDGES))
    return edge + datetime.timedelta(minutes=rng.randint(-600, 600))


def _ns(dt: datetime.datetime, micros: int) -> int:
    secs = int(dt.replace(tzinfo=datetime.timezone.utc).timestamp())
    return secs * 1_000_000_000 + micros * 1_000


def _selection(rng: random.Random, line_id: str) -> dict:
    return {
        "line_id": line_id,
        "display_name": f"Pick {line_id}",
        "name": line_id.lower(),
        "odds": None if rng.random() < 0.1 else rng.choice((-150, -110, 100, 120, 250)),
        "stake": None if rng.random() < 0.3 else round(rng.uniform(1, 50), 2),
        "value": None if rng.random() < 0.1 else round(rng.uniform(1.1, 4.0), 2),
    }


def _groups(rng: random.Random, prefix: str, allow_empty: bool) -> list[list[dict]]:
    groups = []
    for g in range(rng.randint(1, 3)):
        lo = 0 if allow_empty else 1
        groups.append(
            [_selection(rng, f"{prefix}G{g}S{s}") for s in range(rng.randint(lo, 3))]
        )
    return groups


def _market(rng: random.Random, mid: str) -> dict:
    with_lines = rng.random() < 0.5
    updated = _ns(_instant(rng), rng.choice((0, rng.randint(1, 999_999))))
    market = {
        "id": mid,
        "name": f"Market {mid}",
        "type": rng.choice(("moneyline", "spread", "total")),
        "status": rng.choice(("open", "suspended")),
        "updated_at": updated,
        "market_lines": None,
        "selections": None,
    }
    if with_lines:
        market["market_lines"] = [
            {
                "id": f"{mid}L{k}",
                "name": f"Line {k}",
                "line": None if rng.random() < 0.2 else rng.choice((-3.5, 1.5, 210.5)),
                "favourite": None if rng.random() < 0.3 else rng.choice(("home", "away")),
                "type": market["type"],
                "selections": _groups(rng, f"{mid}L{k}", allow_empty=True),
            }
            for k in range(rng.randint(1, 2))
        ]
    else:
        market["selections"] = _groups(rng, mid, allow_empty=False)
    return market


def sheet_snapshot(seed: int, tick: int) -> dict:
    """One REST snapshot: ``tournaments`` (TOURNAMENT records whose
    sport_events carry ids only), ``events`` (SPORT_EVENT records with
    markets attached) and the tick's three ``wagers``."""
    rng = random.Random(seed * 1_000_003 + tick)
    tournaments, events = [], []
    for ti, tname in enumerate(TOURNAMENT_NAMES):
        stubs = []
        for j in range(EVENTS_PER_TOURNAMENT):
            eid = 1_000_000 * (1 + tick) + 100 * ti + j
            n_comp = rng.choice((1, 2, 2, 2))
            event = {
                "event_id": eid,
                "name": f"{tname.lower()}-{j}",
                "display_name": f"{tname} game {j}",
                "scheduled": _instant(rng).strftime("%Y-%m-%dT%H:%M:%SZ"),
                "status": rng.choice(("upcoming", "live")),
                "competitors": [
                    {"display_name": f"Team {eid}-{c}", "abbreviation": f"T{c}",
                     "side": ("home", "away")[c]}
                    for c in range(n_comp)
                ],
                "markets": [_market(rng, f"E{eid}M{m}") for m in range(rng.randint(2, 4))],
            }
            events.append(event)
            stubs.append({key: event[key] for key in ("event_id", "name", "display_name")})
        tournaments.append({"id": ti, "name": tname, "sport_events": stubs})
    picks = [
        sel
        for e in events
        for m in e["markets"]
        for g in (m["selections"] or [])
        for sel in g
    ]
    wagers = [
        {
            "external_id": f"{seed}-{tick}-{w}",
            "wager_id": None,
            "line_id": sel["line_id"],
            "odds": sel["odds"],
            "stake": 5.0 + w,
            "action": "place",
            "ts": datetime.datetime(2024, 3, 10, 7, tick % 60, w),
        }
        for w, sel in enumerate(rng.sample(picks, 3))
    ]
    return {"tournaments": tournaments, "events": events, "wagers": wagers}


def whitelisted_events(snapshot: dict) -> list[dict]:
    """The events the reference would keep: those listed under a
    whitelisted tournament (computed here without the engine)."""
    keep = {
        stub["event_id"]
        for t in snapshot["tournaments"]
        if t["name"] in WHITELIST
        for stub in t["sport_events"]
    }
    return [e for e in snapshot["events"] if e["event_id"] in keep]
