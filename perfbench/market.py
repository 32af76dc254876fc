"""Seeded CoinCap-shaped market snapshots and a pure-Python Gold model.

The generator follows the raw envelope of FIXTURES.md A1: one document per
snapshot, ``{"data": [asset, ...], "timestamp": epoch_ms}``, every numeric
a decimal string. Each snapshot is a pure function of ``(seed, index)``, so
any snapshot can be rebuilt without replaying the ones before it.

Shape of the data:

- a universe of ``n_assets + churn`` asset slots; each snapshot drops
  ``churn`` of them at random, so assets enter and leave between snapshots
  while every snapshot holds exactly ``n_assets`` rows;
- heavy-tailed market caps (log-normal price times log-normal supply);
- signed, heavy-tailed ``changePercent24Hr``;
- ``maxSupply`` null for ~53% of assets, ``explorer`` null for ~12%,
  ``vwap24Hr`` null for ~6% of rows;
- two planted assets whose supply meets or exceeds their max supply;
- ~1.5% of assets reuse another asset's ``symbol`` (the dashboard joins on
  symbol, so these fan out, as in the reference).

The model half (:class:`GoldModel`) replays Bronze -> Silver -> Gold ->
dashboard over the same payloads in plain Python; the benchmark compares
the program's output against it.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal

START_MS = 1748056129137
INTERVAL_MS = 300_000  # one snapshot every 5 minutes
STABLE_SLOTS = 10  # the top slots never churn (they carry planted cases)


def _dec(x: float) -> str:
    return f"{x:.16f}"


@dataclass(frozen=True)
class _Asset:
    slot: int
    id: str
    symbol: str
    name: str
    price: float
    supply: float
    max_supply: float | None
    explorer: str | None
    tokens: dict | None


class MarketGenerator:
    """Deterministic snapshot source: ``snapshot(i)`` depends only on the
    seed, the sizing and ``i``."""

    def __init__(self, seed: int, n_assets: int, churn: int | None = None):
        if n_assets <= STABLE_SLOTS:
            raise ValueError(f"n_assets must exceed {STABLE_SLOTS}")
        self.seed = seed
        self.n_assets = n_assets
        self.churn = max(1, n_assets // 50) if churn is None else churn
        self._assets = [self._make_asset(i) for i in range(n_assets + self.churn)]

    def _make_asset(self, slot: int) -> _Asset:
        rng = random.Random(f"{self.seed}:asset:{slot}")
        supply = math.exp(rng.gauss(18.0, 2.0))
        max_supply = None if rng.random() < 0.53 else supply * (1.0 + rng.expovariate(1.0))
        if slot in (1, 4):  # planted: supply >= maxSupply
            max_supply = supply
        symbol = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(3))
        symbol += f"{slot:X}"
        if slot > STABLE_SLOTS and rng.random() < 0.015:  # repeated symbol
            symbol = self._make_asset(rng.randrange(STABLE_SLOTS)).symbol
        tokens = None
        if rng.random() < 0.3:
            tokens = {str(c): [f"0x{rng.getrandbits(160):040x}"] for c in (1, 56)[: rng.randint(1, 2)]}
        return _Asset(
            slot=slot,
            id=f"asset-{slot:05d}",
            symbol=symbol,
            name=f"Asset {slot:05d}",
            price=math.exp(rng.gauss(0.0, 3.0)),
            supply=supply,
            max_supply=max_supply,
            explorer=None if rng.random() < 0.12 else f"https://explorer.example/{slot}",
            tokens=tokens,
        )

    def timestamp(self, index: int) -> int:
        return START_MS + index * INTERVAL_MS

    def snapshot(self, index: int) -> dict:
        rng = random.Random(f"{self.seed}:snapshot:{index}")
        dropped = set(rng.sample(range(STABLE_SLOTS, len(self._assets)), self.churn))
        rows = []
        for a in self._assets:
            if a.slot in dropped:
                continue
            price = a.price * math.exp(rng.gauss(0.0, 0.02) + 0.001 * index)
            supply = a.supply * (1.0 + 1e-5 * index)
            # Student-t-like: normal over a random scale gives both tails
            change = rng.gauss(0.0, 3.0) / max(0.05, rng.random()) ** 0.5
            rows.append(
                {
                    "id": a.id,
                    "rank": None,
                    "symbol": a.symbol,
                    "name": a.name,
                    "supply": _dec(supply),
                    "maxSupply": None if a.max_supply is None else _dec(a.max_supply),
                    "marketCapUsd": _dec(price * supply),
                    "volumeUsd24Hr": _dec(price * supply * math.exp(rng.gauss(-3.0, 1.0))),
                    "priceUsd": _dec(price),
                    "changePercent24Hr": _dec(change),
                    "vwap24Hr": None if rng.random() < 0.06 else _dec(price * (1 + rng.gauss(0, 0.01))),
                    "explorer": a.explorer,
                    "tokens": a.tokens,
                }
            )
        rows.sort(key=lambda r: (-float(r["marketCapUsd"]), r["id"]))
        for rank, r in enumerate(rows, 1):
            r["rank"] = str(rank)
        return {"data": rows, "timestamp": self.timestamp(index)}

    def batch(self, start: int, snapshots: int) -> list[dict]:
        return [self.snapshot(i) for i in range(start, start + snapshots)]


# ---------------------------------------------------------------------------
# Pure-Python model of the pipeline (plans/crypto_pipeline.py semantics)


def spark_round(x: float | None, scale: int) -> float | None:
    """Spark's ``round`` on a double: HALF_UP on the shortest decimal
    repr of the value."""
    if x is None:
        return None
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _fl(s: str | None) -> float | None:
    return None if s is None else float(s)


def data_referencia(ts_ms: int) -> datetime:
    return datetime.fromtimestamp(ts_ms // 1000, tz=timezone.utc).replace(tzinfo=None)


class GoldModel:
    """Latest-row-per-asset state plus the four Gold tables and the
    dashboard row count, recomputed from the payloads the benchmark
    landed."""

    def __init__(self) -> None:
        self.latest: dict[str, dict] = {}
        self.silver_rows = 0

    def add(self, payload: dict) -> None:
        ref = data_referencia(payload["timestamp"])
        for a in payload["data"]:
            prev = self.latest.get(a["id"])
            if prev is None or prev["data_referencia"] < ref:
                self.latest[a["id"]] = {
                    "id": a["id"],
                    "rank": int(a["rank"]),
                    "symbol": a["symbol"],
                    "name": a["name"],
                    "supply": _fl(a["supply"]),
                    "max_supply": _fl(a["maxSupply"]),
                    "market_cap_usd": _fl(a["marketCapUsd"]),
                    "volume_usd_24hr": _fl(a["volumeUsd24Hr"]),
                    "price_usd": _fl(a["priceUsd"]),
                    "change_percent_24hr": _fl(a["changePercent24Hr"]),
                    "vwap_24hr": _fl(a["vwap24Hr"]),
                    "explorer": a["explorer"],
                    "data_referencia": ref,
                }
        self.silver_rows += len(payload["data"])

    def gold(self, analysis_at: datetime) -> dict[str, list[tuple]]:
        rows = list(self.latest.values())
        r = spark_round
        overview = [
            (
                a["id"], a["name"], a["symbol"], a["rank"],
                r(a["price_usd"], 8), r(a["market_cap_usd"], 2),
                r(a["volume_usd_24hr"], 2), r(a["change_percent_24hr"], 4),
                r(a["vwap_24hr"], 8), r(a["supply"], 0), r(a["max_supply"], 0),
                a["explorer"], a["data_referencia"], analysis_at,
            )
            for a in rows
        ]
        movers = [a for a in rows if a["change_percent_24hr"] is not None]
        gainers = sorted(movers, key=lambda a: (-a["change_percent_24hr"], a["id"]))[:10]
        losers = sorted(movers, key=lambda a: (a["change_percent_24hr"], a["id"]))[:10]
        top = [
            (a["name"], a["symbol"], r(a["change_percent_24hr"], 4), r(a["price_usd"], 8),
             label, a["data_referencia"], analysis_at)
            for label, part in (("Ganhador", gainers), ("Perdedor", losers))
            for a in part
        ]
        capped = [a for a in rows if a["market_cap_usd"] is not None]
        total = math.fsum(a["market_cap_usd"] for a in capped)
        dominance = [
            (a["name"], a["symbol"], r(a["market_cap_usd"], 2),
             r(a["market_cap_usd"] / total * 100, 4), a["data_referencia"], analysis_at)
            for a in capped
        ]
        supply = []
        for a in rows:
            if a["supply"] is None or not a["supply"] > 0 or a["market_cap_usd"] is None:
                continue
            if a["max_supply"] is None:
                status = "Não Definido"
            elif a["supply"] >= a["max_supply"]:
                status = "Próximo do Limite"
            else:
                status = "Disponível"
            supply.append(
                (a["name"], a["symbol"], r(a["supply"], 0), r(a["max_supply"], 0),
                 r(a["market_cap_usd"] / a["supply"], 8), status,
                 a["data_referencia"], analysis_at)
            )
        return {
            "daily_overview": overview,
            "top_gainers_losers": top,
            "market_dominance": dominance,
            "supply_dynamics": supply,
        }

    def dashboard_rows(self) -> int:
        """Rows of the dashboard view: overview rows at the newest
        snapshot, each fanned out by its LEFT JOIN matches on
        (symbol, data_referencia) in the other three tables."""
        gold = self.gold(datetime(2000, 1, 1))
        newest = max(a["data_referencia"] for a in self.latest.values())

        def matches(table: str, sym_i: int, ref_i: int) -> dict:
            out: dict = {}
            for t in gold[table]:
                if t[ref_i] == newest:
                    out[t[sym_i]] = out.get(t[sym_i], 0) + 1
            return out

        sd = matches("supply_dynamics", 1, 6)
        md = matches("market_dominance", 1, 4)
        tg = matches("top_gainers_losers", 1, 5)
        return sum(
            max(1, sd.get(s, 0)) * max(1, md.get(s, 0)) * max(1, tg.get(s, 0))
            for a in self.latest.values()
            if a["data_referencia"] == newest
            for s in (a["symbol"],)
        )
