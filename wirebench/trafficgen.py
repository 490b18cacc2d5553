"""Seeded SBS-1 traffic with its ground truth.

Every aircraft is planned message by message, so the truth is known
exactly: which flights exist, and which landings and takeoffs happen
on which runway.  The plan honours the engine's admission rule (a new
aircraft's first message is MSG3 in the altitude band or MSG2), its
2 s event debounce (edges on one aircraft are at least ``MIN_EDGE_GAP_MS``
apart) and its edge rule (only MSG2/MSG3 position rows move the
onground state).  Edge rows lie on the runway centreline, reached
along the runway axis, so the interpolated track matches the runway
direction; remote edges happen far from any runway and attribute to
``UNK``.

Traffic dimensions: number of concurrent aircraft (state size), a few
heavy emitters (key skew), the share of aircraft that land or take off
versus overfly (attribution work), a planted share of malformed lines
(parse rejects) and the MSG 1/2/3/4/5/8 mix.

Every share below is synthetic: no real capture ships with the
repository to derive them from.  They are set so that each path of
the engine runs (admission, both runway ends, UNK attribution, parse
rejects, a skewed key) and, on the live feed, so that the timed window
holds over a thousand landing and takeoff events, enough for its 99th
percentile to rest on ten or more samples.  Only the live rate is tied
to a measurement (see ``LIVE_RATE``).

The same seed gives byte-identical lines and truth.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import random
from dataclasses import dataclass, field

# One aircraft's edges are MIN_EDGE_GAP_MS to MIN_EDGE_GAP_MS +
# EDGE_GAP_SPREAD_MS apart in message time: past the handler's 2 s
# debounce, and about as dense as that allows.
MIN_EDGE_GAP_MS = 2_200
EDGE_GAP_SPREAD_MS = 300
SESSION_GAP_MS = 900_000  # > the engine's 300 s session gap
UNMATCHED = "UNK"
MALFORMED_SHARE = 0.01

# The live feed.  msg/s: a TWS trigger costs about 4 s on local[4] even
# when empty; with this feed's 350 aircraft it takes about 7 s at 2k
# msg/s, a rate the pipeline keeps up with (keep-up ratio about 1.0 on
# a 4-core host); 3k msg/s with half as many aircraft already took 6-7 s
# a trigger, and spread more from run to run.
LIVE_RATE = 2000.0
# The first data trigger runs cold (7-12 s) and leaves a backlog behind
# it; the steady window opens after it.
LIVE_WARMUP_S = 10.0
LIVE_PERIOD_MS = 200  # one message per aircraft per period
HEAVY, HEAVY_FACTOR = 5, 10  # five aircraft send ten times as often
LAND_SHARE, REMOTE_SHARE = 0.92, 0.05  # the rest overfly

# The recorded capture: aircraft send once a second for 60-140 s.
CAPTURE_DAYS = 3
CAPTURE_STEPS = (60, 140)
CAPTURE_PERIOD_MS = 1000

# Callsign prefixes; "ZZZ" has no airline row, so details get NULLs.
AIRLINE_PREFIXES = ("AFR", "DLH", "BAW", "KLM", "EZY", "ZZZ")


@dataclass(frozen=True)
class Strip:
    """One physical runway strip; ``name_ab`` is flown from ``a`` to
    ``b``, ``name_ba`` the other way."""

    airport: str
    a: tuple[float, float]
    b: tuple[float, float]
    name_ab: str
    name_ba: str
    half_width: float = 0.0003

    def point(self, s: float, forward: bool) -> tuple[float, float]:
        if not forward:
            s = 1.0 - s
        return (
            self.a[0] + s * (self.b[0] - self.a[0]),
            self.a[1] + s * (self.b[1] - self.a[1]),
        )

    def polygon(self) -> list[tuple[float, float]]:
        dx, dy = self.b[0] - self.a[0], self.b[1] - self.a[1]
        n = math.hypot(dx, dy)
        ox, oy = -dy / n * self.half_width, dx / n * self.half_width
        return [
            (self.a[0] + ox, self.a[1] + oy),
            (self.b[0] + ox, self.b[1] + oy),
            (self.b[0] - ox, self.b[1] - oy),
            (self.a[0] - ox, self.a[1] - oy),
        ]


def track(p: tuple[float, float], q: tuple[float, float]) -> float:
    """Compass heading from p to q, computed the way the engine
    interpolates track (raw degree deltas)."""
    return (450.0 - math.degrees(math.atan2(q[1] - p[1], q[0] - p[0]))) % 360.0


# The Nantes Atlantique strip of ``sources.dims.nte_runways``: the
# centreline joins the midpoints of the polygon's two short edges.
NTE_STRIP = Strip(
    "LFRS",
    ((-1.619792 - 1.619280) / 2, (47.141703 + 47.141525) / 2),
    ((-1.603446 - 1.602936) / 2, (47.163170 + 47.162999) / 2),
    "03",
    "21",
)
NTE_REMOTE = (-0.9, 47.9)  # far outside the LFRS bbox


def dispersed_strips(seed: int, n_strips: int) -> list[Strip]:
    """An ourairports-shaped dim: one strip per 0.25° grid cell over a
    region, each with its own direction in [30°, 150°) so the reverse
    end stays clear of the 0/360 wrap."""
    rng = random.Random(f"strips-{seed}")
    cols = 20
    out = []
    for k in range(n_strips):
        cx = -10.0 + (k % cols) * 0.25 + 0.125
        cy = 40.0 + (k // cols) * 0.25 + 0.125
        heading = rng.uniform(30.0, 150.0)
        ang = math.radians(90.0 - heading)
        half = 0.012
        a = (cx - half * math.cos(ang), cy - half * math.sin(ang))
        b = (cx + half * math.cos(ang), cy + half * math.sin(ang))
        out.append(Strip(f"A{k:03d}", a, b, f"R{k:03d}E", f"R{k:03d}W"))
    return out


def runway_rows(strips: list[Strip]) -> list[tuple]:
    """RUNWAY_SCHEMA rows, two ends per strip sharing one polygon."""
    rows = []
    for i, s in enumerate(strips):
        poly = [{"lon": x, "lat": y} for x, y in s.polygon()]
        d_ab = int(round(track(s.a, s.b)))
        rows.append((2 * i + 1, s.airport, s.name_ab, d_ab, 2900.0, poly))
        rows.append((2 * i + 2, s.airport, s.name_ba, (d_ab + 180) % 360, 2900.0, poly))
    return rows


@dataclass
class Msg:
    t_ms: int
    hexident: str
    mtype: int
    lon: float | None = None
    lat: float | None = None
    alt: int | None = None
    onground: bool | None = None
    callsign: str | None = None
    malformed: int = -1  # >= 0: which malformation to render


@dataclass
class Traffic:
    msgs: list[Msg]
    events: list[tuple[str, str, int, str]]  # hexident, kind, t_ms, runway
    flights: list[tuple[str, int, int]]  # hexident, first_ms, last_ms
    marks: dict = field(default_factory=dict)

    @property
    def n_malformed(self) -> int:
        return sum(1 for m in self.msgs if m.malformed >= 0)

    @property
    def n_positions(self) -> int:
        return sum(1 for m in self.msgs if m.malformed < 0 and m.mtype in (2, 3))


_EPOCH = _dt.datetime(1970, 1, 1)
_SECONDS: dict[int, tuple[str, str]] = {}


def _fmt(t_ms: int) -> tuple[str, str]:
    sec = t_ms // 1000
    hit = _SECONDS.get(sec)
    if hit is None:
        if len(_SECONDS) > 100_000:
            _SECONDS.clear()
        d = _EPOCH + _dt.timedelta(seconds=sec)
        hit = _SECONDS[sec] = (d.strftime("%Y/%m/%d"), d.strftime("%H:%M:%S."))
    return hit[0], f"{hit[1]}{t_ms % 1000:03d}"


def render(m: Msg, base_ms: int) -> str:
    """One SBS-1 line; the generated and logged times are both the
    message's due time ``base_ms + m.t_ms`` (UTC epoch ms)."""
    day, tod = _fmt(base_ms + m.t_ms)
    f = [""] * 22
    f[0:10] = ["MSG", str(m.mtype), "1", "1", m.hexident, "1", day, tod, day, tod]
    f[18], f[20] = "0", "0"
    if m.mtype == 1:
        f[10] = f"{m.callsign:<7}"
    elif m.mtype == 2:
        f[12] = "18"
        f[14], f[15] = f"{m.lat:.5f}", f"{m.lon:.5f}"
    elif m.mtype == 3:
        f[11] = str(m.alt)
        f[14], f[15] = f"{m.lat:.5f}", f"{m.lon:.5f}"
    elif m.mtype == 4:
        f[12], f[13], f[16] = "140", "37", "-640"
    elif m.mtype == 5:
        f[11] = str(m.alt)
    f[21] = "" if m.onground is None else ("-1" if m.onground else "0")
    if m.malformed == 0:  # fails the 22-field gate
        return ",".join(f[:6])
    if m.malformed == 1:  # lowercase hexident fails the validity regex
        f[4] = "a" + m.hexident[1:].lower()
    elif m.malformed == 2:  # non-numeric altitude fails the regex
        f[11] = "notanumber"
    elif m.malformed == 3:  # wrong record type
        f[0] = "MSX"
    return ",".join(f)


# Message-type cycle (synthetic): every other message is a position
# report, the rest are MSG 1/4/5/8 in equal shares.
_PATTERN = (0, 1, 0, 4, 0, 5, 0, 8)


def _aircraft(
    rng: random.Random,
    hexident: str,
    t0: int,
    period_ms: int,
    n_steps: int,
    strip: Strip | None,
    forward: bool,
    max_flips: int,
    start_onground: bool = False,
    remote: tuple[float, float] | None = None,
) -> tuple[list[Msg], list[tuple[str, str, int, str]]]:
    """One aircraft's messages and the events they must produce.

    ``strip`` set: positions run along its centreline and edges
    attribute to the end flown.  ``remote`` set: positions and edges
    are around that far point and attribute to UNK.  Neither: an
    overflight with no edges.
    """
    callsign = f"{rng.choice(AIRLINE_PREFIXES)}{rng.randrange(1000):03d}"
    msgs: list[Msg] = []
    events: list[tuple[str, str, int, str]] = []
    onground = start_onground
    u = rng.random()
    flips = 0
    n_pos = 0
    wrapped = True
    last_edge = -(10**12)
    gap = MIN_EDGE_GAP_MS + rng.randrange(EDGE_GAP_SPREAD_MS)
    jitter = max(1, period_ms // 4)
    ox, oy = rng.uniform(-0.3, 0.3), rng.uniform(-0.3, 0.3)
    for k in range(n_steps):
        t = t0 + k * period_ms + rng.randrange(jitter)
        kind = _PATTERN[k % len(_PATTERN)]
        if kind != 0:
            msgs.append(
                Msg(t, hexident, kind,
                    alt=(400 + 10 * (k % 50)) if kind == 5 else None,
                    onground=onground if kind in (1, 4, 8) else None,
                    callsign=callsign if kind == 1 else None)
            )
            continue
        if (
            (strip is not None or remote is not None)
            and flips < max_flips
            and n_pos >= 2
            and not wrapped
            and t - last_edge >= gap
        ):
            onground = not onground
            flips += 1
            last_edge = t
            gap = MIN_EDGE_GAP_MS + rng.randrange(EDGE_GAP_SPREAD_MS)
            if strip is not None:
                runway = strip.name_ab if forward else strip.name_ba
            else:
                runway = UNMATCHED
            events.append((hexident, "landing" if onground else "takeoff", t, runway))
        if strip is not None:
            lon, lat = strip.point(0.2 + 0.6 * u, forward)
        elif remote is not None:
            lon, lat = remote[0] + ox + 0.02 * u, remote[1] + oy + 0.01 * u
        else:
            lon, lat = -1.9 + ox + 0.5 * u, 47.0 + oy + 0.3 * u
        nu = (u + 0.031) % 1.0
        wrapped = nu < u
        u = nu
        n_pos += 1
        if onground:
            msgs.append(Msg(t, hexident, 2, lon=lon, lat=lat, onground=True))
        else:
            alt = 400 if (strip is not None or remote is not None) else 3000 + 20 * (k % 100)
            msgs.append(Msg(t, hexident, 3, lon=lon, lat=lat, alt=alt, onground=False))
    return msgs, events


def _hexident(i: int) -> str:
    return f"{0x3C0000 + i:06X}"


def _plant_malformed(rng: random.Random, msgs: list[Msg], t_lo: int, t_hi: int,
                     first_id: int) -> None:
    for j in range(int(len(msgs) * MALFORMED_SHARE)):
        msgs.append(Msg(rng.randrange(t_lo, t_hi), _hexident(first_id + j), 3,
                        lon=-1.5, lat=47.2, alt=2000, onground=False, malformed=j % 4))


def _ordered(msgs: list[Msg]) -> list[Msg]:
    # (time, hexident) is unique per aircraft: deterministic order
    return sorted(msgs, key=lambda m: (m.t_ms, m.hexident))


def live_traffic(seed: int, steady_s: float) -> Traffic:
    """The live feed: ``LIVE_WARMUP_S`` then ``steady_s`` seconds at
    ``LIVE_RATE`` msg/s around LFRS.  Times are ms after the feed
    start; the steady window starts at the end of the warm-up."""
    rng = random.Random(f"live-{seed}")
    warm_ms = int(LIVE_WARMUP_S * 1000)
    steady_ms = warm_ms + int(steady_s * 1000)
    heavy_rate = HEAVY * HEAVY_FACTOR * 1000.0 / LIVE_PERIOD_MS
    n_air = max(1, int(round((LIVE_RATE * (1 - MALFORMED_SHARE) - heavy_rate)
                             * LIVE_PERIOD_MS / 1000.0)))
    msgs: list[Msg] = []
    events: list[tuple[str, str, int, str]] = []
    for i in range(n_air + HEAVY):
        p = LIVE_PERIOD_MS // HEAVY_FACTOR if i >= n_air else LIVE_PERIOD_MS
        t0 = rng.randrange(p)
        r = rng.random()
        if i >= n_air or r < LAND_SHARE:
            kw = dict(strip=NTE_STRIP)
        elif r < LAND_SHARE + REMOTE_SHARE:
            kw = dict(strip=None, remote=NTE_REMOTE)
        else:
            kw = dict(strip=None)
        m, e = _aircraft(rng, _hexident(i), t0, p, (steady_ms - t0) // p,
                         forward=rng.random() < 0.5, max_flips=10**9, **kw)
        msgs += m
        events += e
    _plant_malformed(rng, msgs, 0, steady_ms, 0x80000)
    return Traffic(
        _ordered(msgs),
        sorted(events, key=lambda e: (e[2], e[0])),
        [],
        marks={"steady_start_ms": warm_ms, "steady_end_ms": steady_ms,
               "aircraft": n_air + HEAVY},
    )


CAPTURE_BASE_MS = int(
    _dt.datetime(2024, 5, 1, tzinfo=_dt.timezone.utc).timestamp() * 1000
)


def capture_traffic(seed: int, n_flights: int, strips: list[Strip]) -> Traffic:
    """A recorded capture over ``CAPTURE_DAYS`` days: arrivals, departures and
    touch-and-goes at the dispersed strips, remote ground movements
    and overflights.  Each aircraft flies four flights separated by
    more than the session gap.  Times are ms after CAPTURE_BASE_MS."""
    rng = random.Random(f"capture-{seed}")
    n_aircraft = max(1, n_flights // 4)
    span = CAPTURE_DAYS * 86_400_000
    msgs: list[Msg] = []
    events: list[tuple[str, str, int, str]] = []
    flights: list[tuple[str, int, int]] = []
    for a in range(n_aircraft):
        nf = n_flights // n_aircraft + (1 if a < n_flights % n_aircraft else 0)
        slot = span // nf
        for f in range(nf):
            n_steps = rng.randint(*CAPTURE_STEPS)
            t0 = f * slot + rng.randrange(slot - n_steps * CAPTURE_PERIOD_MS - SESSION_GAP_MS)
            r = rng.random()
            strip = rng.choice(strips)
            if r < 0.3:
                kw = dict(strip=strip, max_flips=1)
            elif r < 0.55:
                kw = dict(strip=strip, max_flips=1, start_onground=True)
            elif r < 0.7:
                kw = dict(strip=strip, max_flips=2)
            elif r < 0.8:
                kw = dict(strip=None, remote=(strip.a[0], strip.a[1] - 12.0), max_flips=2)
            else:
                kw = dict(strip=None, max_flips=0)
            m, e = _aircraft(rng, _hexident(a), t0, CAPTURE_PERIOD_MS, n_steps,
                             forward=rng.random() < 0.5, **kw)
            msgs += m
            events += e
            flights.append((_hexident(a), m[0].t_ms, max(x.t_ms for x in m)))
    _plant_malformed(rng, msgs, 0, span, 0x80000)
    return Traffic(_ordered(msgs), sorted(events, key=lambda e: (e[2], e[0])),
                   sorted(flights, key=lambda f: (f[1], f[0])))


def digest(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
