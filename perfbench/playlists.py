"""Seeded Spotify playlist snapshots with ground truth.

Builds, before any timed window, every page the in-memory fetcher will
serve (100 tracks per page, as the reference API pages), plus the answer
the pipeline must reach: the distinct album/artist/song ids and each
song's latest popularity under latest-wins.  Items are made with the
track/album/artist helpers of ``tests/spotify_fixtures.py``.

The work per run is fixed: a seed changes ids, popularity values, dates
and which songs and albums are picked, never the number of documents,
tracks, new and re-extracted songs, artists per song, or the sizes of the
album and artist pools.  Only the
sizes (``Sizes``) are parameters; the data shape is a set of module
constants, recorded in the run report:

- ``TRACKS_PER_DOC``: one full API page per document, so each bronze
  file is one page fetch and one small multi-line JSON document.
- ``REEXTRACT_SHARE``: share of a snapshot's tracks already landed by an
  earlier snapshot, re-extracted with refreshed popularity — the
  latest-wins dedup and upsert work.
- ``MULTI_ARTIST_EVERY``: every 5th new song has 2 or 3 artists
  (alternately) — the artist explode fan-out.
- ``RELEASE_FORMATS``: 'YYYY-MM-DD' / 'YYYY-MM' / 'YYYY' release dates,
  cycled 12 / 5 / 3 in every 20 albums — all three partial-date parse
  paths.
- ``NULL_POPULARITY_SHARE`` / ``NULL_LABEL_SHARE``: NULL attributes the
  normalize step must carry through (and top-k ordering must sort last);
  these are values, drawn per item, so their count moves a little with
  the seed.
- ``NEW_ALBUM_EVERY`` / ``NEW_ARTIST_EVERY``: the album and artist pools
  grow with the catalog, one of each per 10 new songs.
"""

from __future__ import annotations

import copy
from dataclasses import asdict, dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Any

import numpy as np

from tests.spotify_fixtures import _album, _artist, _item, playlist_info

PAGE_SIZE = 100
TRACKS_PER_DOC = 100
REEXTRACT_SHARE = 0.3
MULTI_ARTIST_EVERY = 5
RELEASE_FORMATS = (12, 5, 3)
NULL_POPULARITY_SHARE = 0.05
NULL_LABEL_SHARE = 0.1
NEW_ALBUM_EVERY = 10
NEW_ARTIST_EVERY = 10
SHAPE = {
    "tracks_per_doc": TRACKS_PER_DOC,
    "reextract_share": REEXTRACT_SHARE,
    "multi_artist_every": MULTI_ARTIST_EVERY,
    "release_formats": RELEASE_FORMATS,
    "null_popularity_share": NULL_POPULARITY_SHARE,
    "null_label_share": NULL_LABEL_SHARE,
    "new_album_every": NEW_ALBUM_EVERY,
    "new_artist_every": NEW_ARTIST_EVERY,
}
_B62 = np.array(list("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"))
_ALBUM_TYPES = ["album", "single", "compilation"]


@dataclass(frozen=True)
class Sizes:
    batch_docs: int
    epochs: int
    docs_per_epoch: int


@dataclass
class Snapshot:
    playlist_id: str
    ts: datetime
    items: list[dict[str, Any]]

    @property
    def url(self) -> str:
        return f"https://open.spotify.com/playlist/{self.playlist_id}"

    def fetcher(self):
        """Offline API stand-in serving this snapshot's prebuilt pages."""
        pages = {
            off: {
                "items": self.items[off : off + PAGE_SIZE],
                "next": "more" if off + PAGE_SIZE < len(self.items) else None,
            }
            for off in range(0, max(len(self.items), 1), PAGE_SIZE)
        }
        info = playlist_info()

        def fetch(endpoint: str, params: dict[str, Any]) -> dict[str, Any]:
            if endpoint == "playlist":
                return info
            return pages[params["offset"]]

        return fetch


@dataclass
class Truth:
    """Latest-wins state after every snapshot landed so far."""

    songs: dict[str, tuple] = field(default_factory=dict)  # id -> (name, pop, album_id, artist_id)
    albums: dict[str, str] = field(default_factory=dict)  # id -> name
    artists: dict[str, str] = field(default_factory=dict)  # id -> name

    def land(self, snap: Snapshot) -> None:
        for it in snap.items:
            tr = it["track"]
            alb = tr["album"]
            self.albums[alb["id"]] = alb["name"]
            for a in tr["artists"]:
                self.artists[a["id"]] = a["name"]
            self.songs[tr["id"]] = (
                tr["name"], tr["popularity"], alb["id"], tr["artists"][0]["id"]
            )

    def rowcounts(self) -> dict[str, int]:
        return {
            "tblSongs": len(self.songs),
            "tblAlbum": len(self.albums),
            "tblArtist": len(self.artists),
        }

    def top10(self) -> list[tuple]:
        """(song_name, artist_name, album_name, popularity) by popularity
        DESC NULLS LAST, song_id ASC — the reference top-10 query."""
        order = sorted(
            self.songs.items(),
            key=lambda kv: (kv[1][1] is None, -(kv[1][1] or 0), kv[0]),
        )[:10]
        return [
            (name, self.artists[art], self.albums[alb], pop)
            for _sid, (name, pop, alb, art) in order
        ]


class PlaylistGenerator:
    """All snapshots of one run: ``batch`` (the batch load) and
    ``epochs`` (each a list of snapshots landed before one incremental
    run), in landing order with strictly increasing extraction times."""

    def __init__(self, seed: int, sizes: Sizes) -> None:
        self.sizes = sizes
        self.rng = np.random.default_rng(seed)
        self._clock = datetime(2024, 3, 1, 2, 0, 0, tzinfo=timezone.utc)
        self._landed: list[dict] = []  # song records already in bronze
        self._n = 0  # ids made so far
        self._songs = 0
        self._n_albums = 0
        self.truth = Truth()
        self._albums = [self._new_album() for _ in range(60)]
        self._artists = [self._new_artist() for _ in range(150)]
        self.batch = [self._snapshot() for _ in range(sizes.batch_docs)]
        self.batch_truth = copy.deepcopy(self.truth)
        self.epochs = [
            [self._snapshot() for _ in range(sizes.docs_per_epoch)]
            for _ in range(sizes.epochs)
        ]

    def _id(self, prefix: str) -> str:
        self._n += 1
        tail = "".join(self.rng.choice(_B62, 22 - len(prefix) - 6))
        return f"{prefix}{self._n:06d}{tail}"

    def _new_album(self) -> dict:
        cycle = self._n_albums % sum(RELEASE_FORMATS)
        self._n_albums += 1
        fmt = int(np.searchsorted(np.cumsum(RELEASE_FORMATS), cycle, side="right"))
        y, m, d = self.rng.integers(1960, 2024), self.rng.integers(1, 13), self.rng.integers(1, 29)
        date = [f"{y}-{m:02d}-{d:02d}", f"{y}-{m:02d}", f"{y}"][fmt]
        label = None if self.rng.random() < NULL_LABEL_SHARE else f"Label{self.rng.integers(0, 30)}"
        alb = _album(self._id("alb"), f"Album {self._n}", date, label)
        alb["album_type"] = _ALBUM_TYPES[int(self.rng.choice(3, p=[0.7, 0.2, 0.1]))]
        alb["total_tracks"] = int(self.rng.integers(1, 30))
        return alb

    def _new_artist(self) -> dict:
        return _artist(self._id("art"), f"Artist {self._n}")

    def _new_song(self) -> dict:
        self._songs += 1
        i = self._songs
        n_art = 1 if i % MULTI_ARTIST_EVERY else 2 + (i // MULTI_ARTIST_EVERY) % 2
        arts = [self._artists[j] for j in self.rng.choice(len(self._artists), n_art, replace=False)]
        if i % NEW_ALBUM_EVERY == 0:
            self._albums.append(self._new_album())
        if i % NEW_ARTIST_EVERY == 0:
            self._artists.append(self._new_artist())
        return {
            "id": self._id("trk"),
            "name": f"Song {self._n}",
            "album": self._albums[int(self.rng.integers(0, len(self._albums)))],
            "artists": arts,
            "duration": int(self.rng.integers(90_000, 420_000)),
        }

    def _popularity(self) -> int | None:
        if self.rng.random() < NULL_POPULARITY_SHARE:
            return None
        return int(self.rng.integers(0, 101))

    def _snapshot(self) -> Snapshot:
        n_old = min(int(round(TRACKS_PER_DOC * REEXTRACT_SHARE)), len(self._landed))
        old = (
            [self._landed[i] for i in self.rng.choice(len(self._landed), n_old, replace=False)]
            if n_old
            else []
        )
        new = [self._new_song() for _ in range(TRACKS_PER_DOC - n_old)]
        self._landed.extend(new)
        self._clock += timedelta(minutes=7)
        ts = self._clock
        items = []
        for s in old + new:
            added = (ts - timedelta(days=int(self.rng.integers(1, 400)))).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            items.append(
                _item(added, s["id"], s["name"], self._popularity(), s["album"],
                      s["artists"], s["duration"])
            )
        snap = Snapshot(self._id("pl"), ts, items)
        self.truth.land(snap)
        return snap

    def record(self) -> dict[str, Any]:
        """The realized shape of the generated data, for the run report."""
        docs = self.batch + [s for e in self.epochs for s in e]
        tracks = [it["track"] for s in docs for it in s.items]
        albums = {t["album"]["id"]: t["album"] for t in tracks}
        fmts = [len(a["release_date"]) for a in albums.values()]
        return {
            "sizes": asdict(self.sizes),
            "shape": SHAPE,
            "docs": len(docs),
            "track_items": len(tracks),
            "distinct_songs": len(self.truth.songs),
            "multi_artist_items": sum(len(t["artists"]) > 1 for t in tracks),
            "null_popularity_items": sum(t["popularity"] is None for t in tracks),
            "albums_by_date_format": {
                "YYYY-MM-DD": fmts.count(10), "YYYY-MM": fmts.count(7), "YYYY": fmts.count(4)
            },
            "null_label_albums": sum(a["label"] is None for a in albums.values()),
        }
