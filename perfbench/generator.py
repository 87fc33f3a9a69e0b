"""Seeded, paper-shaped rating data for the recommend workloads.

History: ~14,996 users x 200 songs, ~168,861 ratings, Zipf-skewed song
popularity and log-normal user activity (the shape of the reference's
MSD ETL output). Each user rates songs in a private popularity-biased
order, so held-out events continue that order and never repeat a
(user, song) pair already in history. A share of the events comes from
new user ids (cold start), which ``coldStartStrategy="drop"`` leaves
unserved until the next retrain.

Events are Kafka-shaped rows — ``key`` (user id), ``value`` (JSON in
``RATING_EVENT_A`` form) and ``timestamp`` (the event's creation time)
— written as parquet files that a Structured Streaming file source
reads. :class:`LiveWriter` is the open-loop generator: one thread
writing one file per tick on a fixed schedule, recording how late it
ran; :func:`stage_backlog` writes a fixed backlog up front.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import numpy as np

N_USERS = 14_996
N_SONGS = 200
N_RATINGS = 168_861
COLD_SHARE = 0.1
N_COLD_USERS = 300


class RatingData:
    """History plus an unbounded, deterministic event sequence."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        self.rng = rng
        pop = 1.0 / np.arange(1, N_SONGS + 1) ** 0.9
        self.song_ids = rng.permutation(N_SONGS).astype(np.int32)
        self.log_pop = np.log(pop / pop.sum())
        activity = rng.lognormal(0.0, 0.8, N_USERS)
        k = np.maximum(1, np.round(activity / activity.sum() * N_RATINGS)).astype(int)
        self.k = np.minimum(k, N_SONGS - 20)
        # per-user song order: Gumbel top-k over log popularity
        keys = self.log_pop[None, :] + rng.gumbel(size=(N_USERS, N_SONGS))
        self.order = np.argsort(-keys, axis=1).astype(np.int16)
        self.user_bias = rng.normal(0, 0.6, N_USERS + N_COLD_USERS)
        self.song_quality = rng.normal(0, 0.7, N_SONGS)
        rows = np.repeat(np.arange(N_USERS), self.k)
        cols = np.concatenate([self.order[u, : self.k[u]] for u in range(N_USERS)])
        self.hist_users = rows.astype(np.int32)
        self.hist_songs = self.song_ids[cols]
        self.hist_ratings = self._ratings(rows, cols)
        self.next_pos = self.k.copy()
        self.cold_order: dict[int, list[int]] = {}

    def _ratings(self, users: np.ndarray, cols: np.ndarray) -> np.ndarray:
        raw = 3.0 + self.user_bias[users] + self.song_quality[cols] \
            + self.rng.normal(0, 0.8, len(users))
        return np.clip(np.round(raw), 1, 5).astype(np.float64)

    def history_pandas(self):
        import pandas as pd

        return pd.DataFrame({
            "user_id": self.hist_users,
            "song_id": self.hist_songs,
            "rating": self.hist_ratings,
        })

    def events(self, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Next ``n`` held-out events (user, song, rating)."""
        users = np.empty(n, np.int32)
        cols = np.empty(n, np.int64)
        cold = self.rng.random(n) < COLD_SHARE
        for i in range(n):
            if cold[i]:
                u = N_USERS + int(self.rng.integers(N_COLD_USERS))
                order = self.cold_order.get(u)
                if order is None:
                    keys = self.log_pop + self.rng.gumbel(size=N_SONGS)
                    order = self.cold_order[u] = list(np.argsort(-keys))
                if not order:
                    cold[i] = False
                else:
                    users[i], cols[i] = u, order.pop(0)
                    continue
            while True:
                u = int(self.rng.integers(N_USERS))
                if self.next_pos[u] < N_SONGS:
                    break
            users[i], cols[i] = u, self.order[u, self.next_pos[u]]
            self.next_pos[u] += 1
        return users, self.song_ids[cols], self._ratings(users, cols)


def write_event_file(path: str, users, songs, ratings, created: float) -> None:
    """One Kafka-shaped parquet file, renamed into place atomically so the
    file source never lists a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    values = [
        json.dumps({"userid": int(u), "songid": int(s), "rating": float(r)})
        for u, s, r in zip(users, songs, ratings)
    ]
    ts = dt.datetime.fromtimestamp(created, dt.timezone.utc)
    table = pa.table({
        "key": pa.array([str(int(u)) for u in users], pa.string()),
        "value": pa.array(values, pa.string()),
        "timestamp": pa.array([ts] * len(values), pa.timestamp("us", tz="UTC")),
    })
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


EVENT_SCHEMA = "key string, value string, timestamp timestamp"


class LiveWriter(threading.Thread):
    """Open-loop generator: file ``i`` is due at ``t0 + i * tick`` and is
    written then, whatever the system under test is doing. Records each
    file's due time, its events and how late the writer ran."""

    def __init__(self, data: RatingData, src_dir: str, rate: float,
                 tick: float, seconds: float) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.src_dir, self.tick = src_dir, tick
        self.n_files = int(round(seconds / tick))
        per_file = int(round(rate * tick))
        # events are drawn up front so the writer thread only writes
        self.batches = [data.events(per_file) for _ in range(self.n_files)]
        self.files: dict[str, dict] = {}
        self.late_s: list[float] = []
        self.t0 = 0.0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, (u, s, r) in enumerate(self.batches):
                due = self.t0 + i * self.tick
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"events-{i:05d}.parquet"
                write_event_file(os.path.join(self.src_dir, name), u, s, r, due)
                self.late_s.append(max(0.0, time.time() - due))
                self.files[name] = {"due": due, "users": u, "songs": s}
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc

    def start_at(self, t0: float) -> None:
        self.t0 = t0
        self.start()


def stage_backlog(data: RatingData, src_dir: str, n_files: int,
                  per_file: int) -> dict[str, dict]:
    """Write ``n_files`` event files up front with ascending mtimes, so a
    ``maxFilesPerTrigger=1`` source replays them in order."""
    files = {}
    base = time.time() - 3600
    for i in range(n_files):
        u, s, r = data.events(per_file)
        name = f"events-{i:05d}.parquet"
        path = os.path.join(src_dir, name)
        write_event_file(path, u, s, r, base + i)
        os.utime(path, (base + i, base + i))
        files[name] = {"due": base + i, "users": u, "songs": s}
    return files
