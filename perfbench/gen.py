"""Seeded raw-playlist generator for the medallion workloads.

Writes one raw JSON file per playlist (a JSON array holding one playlist
object), the reference's one-file-per-fetch landing layout, in the
FIXTURES.md A1 shape: playlist -> tracks.items[] -> track -> album ->
artists[]. Self-contained: it imports nothing from the package or its
tests, so it can also describe what the package should produce.

What the data exercises:
- albums and artists drawn from shared pools with skewed reuse, so the
  gold dims deduplicate heavily;
- about 20% of tracks carry 2-4 artists (tracks keep the first one, the
  artists table keeps all);
- release dates at year, month and day precision plus malformed values
  that staging turns into NULL;
- UTF-8 non-ASCII names;
- a few tracks with an empty ``artists`` list, so a NULL artist foreign
  key drops out of the fact. NULL *album* references are left out on
  purpose: each one lands a NULL primary key in ``dim_albums`` and fails
  the contract gate (``tests/test_medallion.py::test_null_fk_drops_from_fact``),
  and a benchmark operation must not fail.

Every count the pipeline should produce at every layer is computed here
from the generated objects (``expected_counts``), and the refresh delta
is built from the same seed (``make_delta``).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

_ALNUM = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_WORDS = [
    "Blue", "Night", "Café", "Über", "Señor", "Ψυχή", "東京", "Мир", "Fjäll",
    "Ocean", "Drive", "Heart", "Smørrebrød", "Rêve", "Noir", "Golden",
]
DELTA_MARK = " (v2)"
# the refresh delta: the share of the base re-fetched (at least one
# playlist) and the number of new playlists
REFETCH_FRAC = 0.05
NEW_PLAYLISTS = 1


def _sid(rng: random.Random) -> str:
    """A 22-character base62 id, the shape of a Spotify object id."""
    return "".join(rng.choice(_ALNUM) for _ in range(22))


def _title(rng: random.Random, k: int) -> str:
    return f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {k}"


def _release_date(rng: random.Random) -> tuple[str, str]:
    year = rng.randint(1960, 2024)
    roll = rng.random()
    if roll < 0.20:
        return f"{year}", "year"
    if roll < 0.35:
        return f"{year}-{rng.randint(1, 12):02d}", "month"
    if roll < 0.95:
        return f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}", "day"
    return rng.choice(["unknown", f"{year}-13-45", "0000"]), "day"


def _skewed(rng: random.Random, pool: list) -> object:
    """Pick from ``pool`` with a heavy head: low indexes recur often."""
    return pool[int(len(pool) * rng.random() ** 3)]


@dataclass
class Pools:
    albums: list[dict]
    artists: list[dict]


def _make_pools(rng: random.Random, n_albums: int, n_artists: int, tag: str) -> Pools:
    artists = [
        {"id": _sid(rng), "name": f"{_title(rng, k)} {tag}"} for k in range(n_artists)
    ]
    albums = []
    for k in range(n_albums):
        date, precision = _release_date(rng)
        albums.append(
            {
                "id": _sid(rng),
                "name": _title(rng, k),
                "release_date": date,
                "release_date_precision": precision,
                "total_tracks": rng.randint(1, 30),
                "album_type": rng.choice(["album", "single", "compilation"]),
                "artists": [_skewed(rng, artists)],
            }
        )
    return Pools(albums, artists)


def _item(rng: random.Random, pools: Pools, position: int) -> dict:
    album = _skewed(rng, pools.albums)
    roll = rng.random()
    if roll < 0.01:
        artists = []  # NULL artist FK: survives staging, drops from the fact
    elif roll < 0.21:
        artists = [album["artists"][0]] + [
            _skewed(rng, pools.artists) for _ in range(rng.randint(1, 3))
        ]
        # one row per distinct artist: a repeated artist would repeat the
        # (artist, track) bronze row
        artists = list({a["id"]: a for a in artists}.values())
    else:
        artists = [album["artists"][0]]
    return {
        "added_at": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T10:00:00Z",
        "is_local": False,
        "track": {
            "id": _sid(rng),
            "name": _title(rng, position),
            "duration_ms": rng.randint(60_000, 420_000),
            "popularity": rng.randint(0, 100),
            "explicit": rng.random() < 0.2,
            # the fact's grain is (playlist_id, track_number), so the
            # number is the item's position, unique within a playlist
            "track_number": position + 1,
            "disc_number": 1,
            "album": album,
            "artists": artists,
        },
    }


def _playlist(rng: random.Random, pools: Pools, k: int, n_items: int) -> dict:
    items = [_item(rng, pools, i) for i in range(n_items)]
    return {
        "id": _sid(rng),
        "name": _title(rng, k),
        "description": f"generated playlist {k} — {rng.choice(_WORDS)}",
        "owner": {"id": f"owner-{rng.randint(1, 50)}"},
        "followers": {"total": rng.randint(0, 1_000_000)},
        "public": rng.random() < 0.8,
        "snapshot_id": _sid(rng),
        "images": [{"url": f"https://img/{k}", "height": 640, "width": 640}],
        "tracks": {"total": n_items, "limit": 100, "offset": 0, "items": items},
    }


def make_playlists(seed: int, n_playlists: int, n_items: int) -> list[dict]:
    """The base snapshot: ``n_playlists`` playlists of ``n_items`` items."""
    rng = random.Random(f"base-{seed}")
    total = n_playlists * n_items
    pools = _make_pools(rng, max(8, total // 4), max(8, total // 5), "")
    return [_playlist(rng, pools, k, n_items) for k in range(n_playlists)]


def make_delta(seed: int, base: list[dict]) -> tuple[list[dict], list[dict]]:
    """The refresh delta for ``base``: (re-fetched, new) playlists.

    Re-fetched playlists keep their ids, items, albums and artists and
    change follower counts, track popularity and track names. New
    playlists draw on new albums and artists as well as the base ones.
    The delta only changes and adds tracks; it never drops one, because
    the gold upsert has no delete path."""
    rng = random.Random(f"delta-{seed}")
    n_refetch = max(1, round(REFETCH_FRAC * len(base)))
    refetched = []
    for pl in rng.sample(base, n_refetch):
        pl = json.loads(json.dumps(pl))
        pl["followers"]["total"] += rng.randint(1, 1000)
        pl["snapshot_id"] = _sid(rng)
        for it in pl["tracks"]["items"]:
            it["track"]["popularity"] = rng.randint(0, 100)
            it["track"]["name"] += DELTA_MARK
        refetched.append(pl)
    n_items = len(base[0]["tracks"]["items"])
    fresh_items = NEW_PLAYLISTS * n_items
    fresh = _make_pools(rng, max(4, fresh_items // 4), max(4, fresh_items // 5), "new")
    base_albums = list({t["album"]["id"]: t["album"] for t in _tracks(base)}.values())
    mixed = Pools(fresh.albums + base_albums[: len(fresh.albums)], fresh.artists)
    new = [_playlist(rng, mixed, len(base) + k, n_items) for k in range(NEW_PLAYLISTS)]
    return refetched, new


def write_playlists(playlists: list[dict], out_dir: str) -> int:
    """One JSON file per playlist; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for pl in playlists:
        data = json.dumps([pl], ensure_ascii=False).encode("utf-8")
        with open(os.path.join(out_dir, f"playlist_{pl['id']}.json"), "wb") as f:
            f.write(data)
        total += len(data)
    return total


def _tracks(playlists: list[dict]) -> list[dict]:
    return [it["track"] for pl in playlists for it in pl["tracks"]["items"]]


def expected_counts(playlists: list[dict]) -> dict[str, int]:
    """Rows per table at every layer after a full build of ``playlists``.

    Bronze and silver hold one row per playlist, per track item, per
    track item (albums) and per (artist, track item); the dims hold one
    row per distinct playlist, album and artist; the fact holds every
    track item with a non-NULL artist reference (album references are
    never NULL here)."""
    tracks = _tracks(playlists)
    counts = {
        "playlists": len(playlists),
        "tracks": len(tracks),
        "albums": len(tracks),
        "artists": sum(len(t["artists"]) for t in tracks),
    }
    out = {f"{layer}.{t}": n for layer in ("bronze", "silver") for t, n in counts.items()}
    out["gold.dim_playlists"] = len({pl["id"] for pl in playlists})
    out["gold.dim_albums"] = len({t["album"]["id"] for t in tracks})
    out["gold.dim_artists"] = len({a["id"] for t in tracks for a in t["artists"]})
    out["gold.fact_playlist_tracks"] = sum(1 for t in tracks if t["artists"])
    return out


def fact_popularity(playlists: list[dict]) -> int:
    """Sum of ``track_popularity`` over the fact rows of ``playlists``."""
    return sum(t["popularity"] for t in _tracks(playlists) if t["artists"])
