"""Seeded input generators, one per workload.

Each generator takes a ``numpy.random.Generator`` built from the run's seed
and exposes the traffic dimensions the engine's behaviour depends on as
keyword arguments. Same seed, same inputs. Staging writes Parquet with
pyarrow in this process, so set-up starts no Spark work of its own.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z, event time
STATISTICS = ("Sum", "Average", "Minimum", "Maximum", "SampleCount")
FREQUENCIES = (("minute", 60), ("hour", 3600), ("day", 86400))
OPERATORS = (
    "GREATER_THAN_THRESHOLD",
    "GREATER_THAN_OR_EQUAL_TO_THRESHOLD",
    "LESS_THAN_THRESHOLD",
    "LESS_THAN_OR_EQUAL_TO_THRESHOLD",
)
POLICIES = ("NOT_BREACHING", "BREACHING", "IGNORE", "MISSING")
M_OF_N = ((1, 1), (2, 3), (3, 5))


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def pick(rng, n: int, share: float) -> np.ndarray:
    """A boolean mask selecting exactly round(n * share) of n items. Exact
    shares keep the amount of work the same from seed to seed."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[: round(n * share)]] = True
    return mask


def _series_identities(rng, n: int, namespace: str, null_dims_share: float) -> list[tuple[str, str, str | None]]:
    """(namespace, name, dimensions JSON). Dimension keys are written in
    non-sorted order so the engine's key canonicalisation is exercised."""
    null_dims = pick(rng, n, null_dims_share)
    out = []
    for j in range(n):
        dims = None if null_dims[j] else json.dumps({"table": f"t{j % 17:02d}", "dataset": f"ds{j:05d}"})
        out.append((namespace, f"metric{j:05d}", dims))
    return out


def _write_split(table: pa.Table, directory: str, parts: int) -> None:
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(directory, f"part-{i:03d}.parquet"))


def iso(epoch: int) -> str:
    return np.datetime_as_string(np.datetime64(int(epoch), "s")) + "+00:00"


# ------------------------------------------------------------------ backfill


@dataclass
class BackfillInput:
    series: list
    ev_series: np.ndarray
    ev_ts: np.ndarray  # epoch seconds
    ev_value: np.ndarray
    defs: list  # (series index, frequency, period, statistic)


def backfill(
    rng,
    *,
    n_events: int,
    n_series: int,
    days: int,
    zipf_s: float = 1.1,
    null_dims_share: float = 1 / 7,
    undefined_share: float = 0.2,
    p99_share: float = 0.2,
) -> BackfillInput:
    """Raw events with Zipf series popularity over ``days`` of event time,
    plus metric definitions (one per defined series and frequency).

    ``undefined_share`` of series get no definition, so their windows are
    aggregated and then dropped by the definition join; ``p99_share`` of
    definitions ask for the exact p99.
    """
    series = _series_identities(rng, n_series, "App/Ingest", null_dims_share)
    popularity = zipf_weights(n_series, zipf_s)[rng.permutation(n_series)]
    ev_series = rng.choice(n_series, size=n_events, p=popularity).astype(np.int32)
    ev_ts = BASE_EPOCH + rng.integers(0, days * 86400, size=n_events)
    level = rng.uniform(10, 1000, size=n_series)
    ev_value = np.round(level[ev_series] * rng.lognormal(0, 0.3, size=n_events), 3)
    defined = np.flatnonzero(~pick(rng, n_series, undefined_share))
    p99 = pick(rng, len(defined) * len(FREQUENCIES), p99_share)
    defs = []
    for i, (j, (freq, period)) in enumerate((j, f) for j in defined for f in FREQUENCIES):
        stat = "p99" if p99[i] else STATISTICS[rng.integers(len(STATISTICS))]
        defs.append((int(j), freq, period, stat))
    return BackfillInput(series, ev_series, ev_ts, ev_value, defs)


def stage_events(inp: BackfillInput, directory: str, parts: int) -> None:
    ns = np.array([s[0] for s in inp.series], dtype=object)
    names = np.array([s[1] for s in inp.series], dtype=object)
    dims = np.array([s[2] for s in inp.series], dtype=object)
    table = pa.table(
        {
            "namespace": pa.array(ns[inp.ev_series], pa.string()),
            "name": pa.array(names[inp.ev_series], pa.string()),
            "dimensions": pa.array(dims[inp.ev_series], pa.string()),
            "ts": pa.array(inp.ev_ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "value": pa.array(inp.ev_value, pa.float64()),
        }
    )
    _write_split(table, directory, parts)


def stage_metric_defs(inp: BackfillInput, directory: str, *, account: str) -> None:
    """The definitions as a metric_defs table (catalog.METRIC_DEFS_SCHEMA)."""
    cols = {c: [] for c in ("namespace", "name", "frequency", "statistic", "dimensions")}
    periods = []
    for j, freq, period, stat in inp.defs:
        ns, name, dims = inp.series[j]
        for c, v in zip(cols, (ns, name, freq, stat, dims)):
            cols[c].append(v)
        periods.append(period)
    n = len(periods)
    table = pa.table(
        {
            "namespace": pa.array(cols["namespace"], pa.string()),
            "name": pa.array(cols["name"], pa.string()),
            "frequency": pa.array(cols["frequency"], pa.string()),
            "period": pa.array(periods, pa.int32()),
            "statistic": pa.array(cols["statistic"], pa.string()),
            "metadata": pa.array(['{"owner": "bench"}'] * n, pa.string()),
            "dimensions": pa.array(cols["dimensions"], pa.string()),
            "metric_set": pa.array(["bench"] * n, pa.string()),
            "sla_set": pa.array([None] * n, pa.string()),
            "dashboard": pa.array([None] * n, pa.string()),
            "account": pa.array([account] * n, pa.string()),
            "dataset": pa.array([None] * n, pa.string()),
            "reference_datasets": pa.array([None] * n, pa.string()),
            "query": pa.array([None] * n, pa.string()),
        }
    )
    _write_split(table, directory, 1)


# ----------------------------------------------------------------- sla_fleet


@dataclass
class SlaFleetInput:
    series: list
    hours: int
    values: np.ndarray  # (series, hour) float32, NaN where the datapoint is missing
    slas: list  # (sla_id, series index, op, threshold, m, n, policy)
    episodes: int


def sla_fleet(
    rng,
    *,
    n_series: int,
    hours: int,
    slas_per_series: tuple[int, int] = (1, 4),
    gap_share: float = 0.05,
    outage_share: float = 0.1,
    episode_rate: float = 0.04,
) -> SlaFleetInput:
    """An hourly metrics table with gaps and planted breach episodes, and an
    SLA fleet over it covering every operator, policy and m-of-n setting.

    ``gap_share``: single missing hours; ``outage_share``: series with one
    multi-hour outage; ``episode_rate``: breach episodes per series-hour,
    each 1-6 hours of values ten sigmas above or below the series level.
    """
    series = _series_identities(rng, n_series, "App/Fleet", 1 / 7)
    level = rng.uniform(100, 1000, size=n_series)
    sigma = level * 0.02
    values = level[:, None] + sigma[:, None] * np.clip(rng.standard_normal((n_series, hours)), -4, 4)
    episodes = 0
    for j in range(n_series):
        for _ in range(rng.poisson(episode_rate * hours)):
            start = int(rng.integers(0, hours))
            sign = 1 if rng.random() < 0.5 else -1
            values[j, start : start + int(rng.integers(1, 7))] = level[j] + sign * 10 * sigma[j]
            episodes += 1
    values = values.astype(np.float32)
    values[rng.random((n_series, hours)) < gap_share] = np.nan
    for j in np.flatnonzero(rng.random(n_series) < outage_share):
        start = int(rng.integers(1, hours - 1))
        values[j, start : start + int(rng.integers(3, 13))] = np.nan
    # the gap-fill grid spans first..last observed hour: keep both ends
    values[:, 0] = np.where(np.isnan(values[:, 0]), level, values[:, 0])
    values[:, -1] = np.where(np.isnan(values[:, -1]), level, values[:, -1])
    slas = []
    for j in range(n_series):
        for _ in range(int(rng.integers(slas_per_series[0], slas_per_series[1] + 1))):
            op = OPERATORS[rng.integers(len(OPERATORS))]
            threshold = float(level[j] + (5 if op.startswith("GREATER") else -5) * sigma[j])
            m, n = M_OF_N[rng.integers(len(M_OF_N))]
            policy = POLICIES[rng.integers(len(POLICIES))]
            slas.append((f"sla{len(slas):06d}", j, op, threshold, m, n, policy))
    return SlaFleetInput(series, hours, values, slas, episodes)


def series_id(namespace: str, name: str, frequency: str, dims: str | None) -> str:
    """A unique series key for staged metric rows (the lake's ``id``)."""
    return f"{namespace}|{name}|{frequency}|{dims or ''}"


def stage_hourly_lake(inp: SlaFleetInput, directory: str) -> None:
    """Write the table Hive-partitioned by region/year/month/day/hour, the
    layout the engine's lake writer produces."""
    j_idx, h_idx = np.nonzero(~np.isnan(inp.values))
    ts = BASE_EPOCH + h_idx.astype(np.int64) * 3600
    dt = ts.astype("datetime64[s]")
    ns = [inp.series[j][0] for j in j_idx]
    names = [inp.series[j][1] for j in j_idx]
    dims = [inp.series[j][2] for j in j_idx]
    table = pa.table(
        {
            "collectiontime": pa.array([iso(BASE_EPOCH)] * len(j_idx), pa.string()),
            "namespace": pa.array(ns, pa.string()),
            "name": pa.array(names, pa.string()),
            "period": pa.array(np.full(len(j_idx), 3600, np.int32)),
            "frequency": pa.array(["hour"] * len(j_idx), pa.string()),
            "statistic": pa.array(["Average"] * len(j_idx), pa.string()),
            "metadata": pa.array([None] * len(j_idx), pa.string()),
            "dimensions": pa.array(dims, pa.string()),
            "accountid": pa.array(["123412341234"] * len(j_idx), pa.string()),
            "metrictimestamp": pa.array([iso(t) for t in ts], pa.string()),
            "metricvalue": pa.array(inp.values[j_idx, h_idx], pa.float32()),
            "id": pa.array([series_id(a, b, "hour", c) for a, b, c in zip(ns, names, dims)], pa.string()),
            "label": pa.array(names, pa.string()),
            "region": pa.array(["us-east-1"] * len(j_idx), pa.string()),
            "year": pa.array(dt.astype("datetime64[Y]").astype(int) + 1970, pa.int16()),
            "month": pa.array(dt.astype("datetime64[M]").astype(int) % 12 + 1, pa.int16()),
            "day": pa.array((dt - dt.astype("datetime64[M]")).astype("timedelta64[D]").astype(int) + 1, pa.int16()),
            "hour": pa.array((ts % 86400) // 3600, pa.int16()),
        }
    )
    pads.write_dataset(
        table,
        directory,
        format="parquet",
        partitioning=["region", "year", "month", "day", "hour"],
        partitioning_flavor="hive",
        existing_data_behavior="overwrite_or_ignore",
    )


# -------------------------------------------------------------- corpus_dedup


@dataclass
class CorpusInput:
    texts: list[str]
    planted: list[tuple[int, int]]  # (original, near-duplicate) doc ids


def corpus(
    rng,
    *,
    n_docs: int,
    words_per_doc: int = 120,
    vocab: int = 5000,
    zipf_s: float = 1.05,
    planted_rate: float = 0.1,
) -> CorpusInput:
    """Zipf-worded documents; ``planted_rate`` of them are copies of another
    document with one word replaced (Jaccard of 3-shingles ~0.95)."""
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    tokens = rng.choice(vocab, size=(n_docs, words_per_doc), p=zipf_weights(vocab, zipf_s))
    n_planted = int(n_docs * planted_rate)
    order = rng.permutation(n_docs)
    dups, originals = order[:n_planted], order[n_planted:]
    planted = []
    for d in dups:
        src = int(originals[rng.integers(len(originals))])
        tokens[d] = tokens[src]
        pos = int(rng.integers(words_per_doc))
        tokens[d, pos] = (tokens[src, pos] + 1 + rng.integers(vocab - 1)) % vocab
        planted.append((min(src, int(d)), max(src, int(d))))
    texts = [" ".join(words[row]) for row in tokens]
    return CorpusInput(texts, planted)


def stage_corpus(inp: CorpusInput, directory: str, parts: int) -> None:
    table = pa.table(
        {"doc_id": pa.array(np.arange(len(inp.texts)), pa.int64()), "text": pa.array(inp.texts, pa.string())}
    )
    _write_split(table, directory, parts)


# ---------------------------------------------------------------- live_alarm


@dataclass
class LiveFeed:
    """Open-loop event feed: tick k carries event time [k*P, (k+1)*P).

    Per tick and series, ``events_per_series`` in-order events; a
    ``out_of_order_share`` of them move one window back (still inside the
    watermark), and once ``late_enabled`` is set a ``beyond_watermark_share``
    of extra events land a day behind (dropped by the watermark). One
    corrupt line per tick. Breach episodes (2-3 windows of ~20x values) are
    planted per series with at least 6 quiet windows between them.
    """

    rng: np.random.Generator
    n_series: int
    events_per_series: int
    period: int = 60
    out_of_order_share: float = 0.02
    beyond_watermark_share: float = 0.005
    episode_rate: float = 0.08
    late_enabled: bool = False
    series: list = field(default_factory=list)
    sums: dict = field(default_factory=dict)  # (series, window) -> expected Sum
    episode_windows: dict = field(default_factory=dict)  # series -> set of windows
    episode_starts: dict = field(default_factory=dict)  # series -> list of starts
    good_lines: int = 0
    corrupt_lines: int = 0

    def __post_init__(self) -> None:
        self.series = _series_identities(self.rng, self.n_series, "App/Live", 1 / 7)
        for j in range(self.n_series):
            self.episode_windows[j] = set()
            self.episode_starts[j] = []

    def _plan_episodes(self, k: int) -> None:
        for j in range(self.n_series):
            starts = self.episode_starts[j]
            quiet = not starts or k - (starts[-1] + 3) >= 6
            if k >= 4 and quiet and self.rng.random() < self.episode_rate:
                starts.append(k)
                self.episode_windows[j].update(range(k, k + int(self.rng.integers(2, 4))))

    def tick_lines(self, k: int) -> list[str]:
        self._plan_episodes(k)
        rng, p = self.rng, self.period
        lines = []
        for j, (ns, name, dims) in enumerate(self.series):
            hot = k in self.episode_windows[j]
            offsets = rng.integers(0, p - 1, size=self.events_per_series)
            offsets[0] = p - 1  # every tick reaches the end of its window
            values = np.round(rng.uniform(90, 110, self.events_per_series) if hot else rng.uniform(0, 10, self.events_per_series), 3)
            back = (rng.random(self.events_per_series) < self.out_of_order_share) & (k > 0)
            back[0] = False
            for off, val, b in zip(offsets, values, back):
                w = k - 1 if b else k
                if b:
                    val = round(float(rng.uniform(0, 10)), 3)
                ts = BASE_EPOCH + w * p + int(off)
                self.sums[(j, w)] = self.sums.get((j, w), 0.0) + float(val)
                lines.append(_event_line(ns, name, dims, ts, float(val)))
                self.good_lines += 1
            if self.late_enabled and rng.random() < self.beyond_watermark_share * self.events_per_series:
                ts = BASE_EPOCH - 86400 + int(rng.integers(0, 86400 - 3600))
                lines.append(_event_line(ns, name, dims, ts, 1.0))
                self.good_lines += 1
        lines.append('{"namespace": "App/Live", "name": ')  # truncated record
        self.corrupt_lines += 1
        return lines


def _event_line(ns: str, name: str, dims: str | None, ts: int, value: float) -> str:
    stamp = np.datetime_as_string(np.datetime64(ts, "s"))
    return json.dumps({"namespace": ns, "name": name, "dimensions": dims, "ts": stamp, "value": value})
