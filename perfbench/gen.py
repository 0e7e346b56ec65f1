"""Seeded log generator and oracle for the LogTools benchmark.

Everything here is plain Python: the program under test never sees this
module, only the files the benchmark writes from its output through the
program's own writers (``write_boom_local``, ``write_log_store``).

Lines are ``(ts_ms, message, event_id)``. Messages come from a fixed
template set; rare needle terms are appended at the rates in ``NEEDLES``
(1e-5 to 1e-3 of lines), and a share of the templates is non-ASCII so a
case-insensitive non-ASCII search cannot use the decoder's byte
prefilter. The same seed gives the same lines on every machine: each
(component, hour) slice draws from its own ``random.Random`` seeded with
a string, which Python hashes with SHA-512 independently of
``PYTHONHASHSEED``.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass
from datetime import datetime, timezone

HOUR_MS = 3_600_000
#: First hour of every generated tree: 2026-01-05T00:00:00Z.
T0_MS = 1_767_571_200_000

DC, SVC, LOG_TYPE = "dc1", "checkout", "incoming"
#: Two components: queries name one, so path pruning skips the other's
#: directories in every hour.
COMPONENTS = ("frontend", "payments")


@dataclass(frozen=True)
class Needle:
    term: str
    rate: float  # share of lines carrying the term
    upper_share: float = 0.5  # of those, share written in upper case


NEEDLES = (
    Needle("needle-alpha", 1e-3),
    Needle("needle-beta", 3e-4),
    Needle("needle-gamma", 1e-4),
    Needle("needle-delta", 3e-5),
    Needle("needle-omega", 1e-5),
    # non-ASCII: ``.upper()`` changes its bytes, so a case-insensitive
    # search for it decodes every block
    Needle("échec-disque", 1e-4),
)
#: Lines carrying both terms, for ``logmultisearch --a``.
PAIR = ("needle-pair-left", "needle-pair-right")
PAIR_RATE = 1e-4

_REGIONS = ("eu-west", "us-east", "ap-south", "sa-east")
_TEMPLATES_ASCII = (
    lambda r: f"GET /api/v{r.randrange(1, 4)}/orders/{r.randrange(10**6)} status={r.choice((200, 200, 200, 201, 404, 500))} bytes={r.randrange(100, 90000)} latency_ms={r.randrange(1, 900)}",
    lambda r: f"user {r.randrange(10**5)} login ok from 10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(256)}",
    lambda r: f"INFO cache refresh region={r.choice(_REGIONS)} keys={r.randrange(10**4)} took={r.randrange(1, 500)}ms",
    lambda r: f"WARN slow query table=orders rows={r.randrange(10**5)} took={r.randrange(500, 9000)}ms",
    lambda r: f"ERROR payment gateway timeout txn={r.getrandbits(48):012x} attempt={r.randrange(1, 6)}",
    lambda r: f"DEBUG heartbeat node=n{r.randrange(64)} seq={r.randrange(10**7)}",
)
_TEMPLATES_NON_ASCII = (
    lambda r: f"INFO utilisateur {r.randrange(10**5)} connecté depuis Zürich session={r.getrandbits(32):08x}",
    lambda r: f"WARN Ошибка соединения с сервером {r.randrange(64)} повтор={r.randrange(1, 9)}",
    lambda r: f"INFO 注文 {r.randrange(10**6)} 処理完了 latency={r.randrange(1, 900)}ms",
)
#: Share of lines drawn from the non-ASCII templates.
NON_ASCII_SHARE = 0.1


def _hour_lines(seed: int, comp: str, hour_ms: int, n: int) -> list[tuple]:
    r = random.Random(f"{seed}:{comp}:{hour_ms}")
    offsets = sorted(r.randrange(HOUR_MS) for _ in range(n))
    out = []
    for off in offsets:
        if r.random() < NON_ASCII_SHARE:
            msg = r.choice(_TEMPLATES_NON_ASCII)(r)
        else:
            msg = r.choice(_TEMPLATES_ASCII)(r)
        x = r.random()
        for nd in NEEDLES:
            if x < nd.rate:
                term = nd.term.upper() if r.random() < nd.upper_share else nd.term
                msg = f"{msg} {term}"
                break
            x -= nd.rate
        else:
            if x < PAIR_RATE:
                msg = f"{msg} {PAIR[0]} {PAIR[1]}"
        out.append((hour_ms + off, msg, r.getrandbits(31)))
    return out


def generate(seed: int, comps: Sequence[str], hours: int, lines_per_hour: int,
             t0_ms: int = T0_MS) -> dict[str, list[tuple]]:
    """``{component: [(ts, message, event_id), ...]}`` sorted by ts, covering
    ``hours`` whole hours from ``t0_ms``."""
    return {
        c: [
            line
            for h in range(hours)
            for line in _hour_lines(seed, c, t0_ms + h * HOUR_MS, lines_per_hour)
        ]
        for c in comps
    }


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


def rfc5424(ts_ms: int) -> str:
    """The CLI's default ``--dateFormat`` (``yyyy-MM-dd'T'HH:mm:ss.SSSxxx``
    in UTC)."""
    d = datetime.fromtimestamp(ts_ms // 1000, tz=timezone.utc)
    return f"{d:%Y-%m-%dT%H:%M:%S}.{ts_ms % 1000:03d}+00:00"


def formatted(lines: Iterable[tuple]) -> list[str]:
    """``"<RFC5424 ts> <message>"``, the line the CLI prints."""
    out = []
    minute, prefix = None, ""
    for ts, msg, *_ in lines:
        if ts // 60_000 != minute:
            minute = ts // 60_000
            prefix = rfc5424(minute * 60_000)[:17]  # yyyy-MM-ddTHH:mm:
        sec, ms = divmod(ts % 60_000, 1000)
        out.append(f"{prefix}{sec:02d}.{ms:03d}+00:00 {msg}")
    return out


def search_pred(term: str, ci: bool) -> Callable[[str], bool]:
    if ci:
        low = term.lower()
        return lambda m: low in m.lower()
    return lambda m: term in m


def grep_pred(regex: str, ci: bool) -> Callable[[str], bool]:
    rx = re.compile(regex, re.IGNORECASE if ci else 0)
    return lambda m: rx.search(m) is not None


def multisearch_pred(terms: Sequence[str], ci: bool, match_all: bool) -> Callable[[str], bool]:
    preds = [search_pred(t, ci) for t in terms]
    if match_all:
        return lambda m: all(p(m) for p in preds)
    return lambda m: any(p(m) for p in preds)


#: Length of the RFC5424 prefix; it sorts lexicographically in time order.
_TS_LEN = len(rfc5424(T0_MS))


def check_output(got: Sequence[str], want: Counter) -> str | None:
    """``None`` when ``got`` is ``want`` as a multiset and its timestamps
    never decrease; otherwise a one-line reason."""
    if len(got) != sum(want.values()):
        return f"{len(got)} lines, expected {sum(want.values())}"
    prev = ""
    for line in got:
        ts = line[:_TS_LEN]
        if ts < prev:
            return f"out of ts order at {ts!r} after {prev!r}"
        prev = ts
    if Counter(got) != want:
        return "line multiset differs from the oracle"
    return None
