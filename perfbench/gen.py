"""Seeded Telegram traffic for the benchmark.

Every input the program under test sees is made here, from a seed and a
:class:`Traffic` spec. The same seed and spec give byte-identical output.

Traffic dimensions (each is a field of :class:`Traffic` and a flag of the
command line):

- users drawn from a Zipf law over ``users`` ids (exponent ``zipf_s``),
  ``bots`` of which post as bots;
- ``sticker_share`` of updates carry a sticker and no ``text``;
- ``foreign_share`` of updates come from another chat (dropped at ingest);
- ``malformed_share`` of webhook bodies are broken JSON (quarantined);
- ``late_share`` of updates carry an event time on the day before the
  day they land under, so ``context_date`` differs from day(``date``);
- text length in words is log-normal around ``words_mean`` up to
  ``words_max``;
- ``exact_dup_share`` of messages forward an earlier text verbatim and
  ``near_dup_share`` re-send an earlier text with one word edited.

Run ``python3 perfbench/gen.py --help`` for the command line, which writes
one day of updates as JSON lines to stdout.
"""

from __future__ import annotations

import argparse
import bisect
import dataclasses
import datetime as dt
import itertools
import json
import math
import random
import sys

CHAT_ID = -1001234567890
FOREIGN_CHAT_ID = -1009876543210

# a fixed vocabulary keeps the texts readable and the output seed-stable
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "da", "fu", "ge",
    "ho", "ji", "pe", "sa", "to", "wu", "xi", "ye",
]
VOCAB = sorted({a + b + c for a in _SYLLABLES for b in _SYLLABLES
                for c in ("", "n", "s", "r")})
FIRST_NAMES = [
    "Ana", "Bruno", "Carla", "Diego", "Elisa", "Fabio", "Gabi", "Hugo",
    "Iris", "Joao", "Kira", "Luiz", "Marta", "Nuno", "Olga", "Paulo",
]


@dataclasses.dataclass(frozen=True)
class Traffic:
    """The traffic dimensions one generator draws from."""

    users: int = 2000
    zipf_s: float = 1.1
    bots: int = 3
    sticker_share: float = 0.10
    foreign_share: float = 0.05
    malformed_share: float = 0.0
    late_share: float = 0.05
    words_mean: float = 12.0
    words_max: int = 120
    exact_dup_share: float = 0.0
    near_dup_share: float = 0.0


@dataclasses.dataclass
class Update:
    """One generated webhook body and what the generator knows about it."""

    kind: str  # "ok", "foreign" or "malformed"
    body: str  # the single-line body exactly as delivered
    message_id: int | None = None
    date: int | None = None  # event time, unix seconds
    text: str | None = None
    user_id: int | None = None
    user_first_name: str | None = None
    user_is_bot: bool | None = None
    planted: str | None = None  # "exact" / "near" for planted duplicates


class Generator:
    """Draws updates for one chat; ids keep increasing across calls, so a
    sequence of days from one generator never repeats a message id."""

    def __init__(self, seed: int, traffic: Traffic = Traffic()) -> None:
        self.t = traffic
        self.rng = random.Random(seed)
        weights = [1.0 / (k ** traffic.zipf_s) for k in range(1, traffic.users + 1)]
        self._cum = list(itertools.accumulate(weights))
        self._update_id = 100_000
        self._message_id = 1
        self._texts: list[str] = []  # originals available to duplicate
        self._seen: set[str] = set()

    # --- field draws ------------------------------------------------------

    def _user(self) -> tuple[int, str, bool]:
        rank = bisect.bisect_left(self._cum, self.rng.random() * self._cum[-1])
        uid = 10_000 + rank
        is_bot = rank < self.t.bots
        name = FIRST_NAMES[rank % len(FIRST_NAMES)] + ("Bot" if is_bot else "")
        return uid, name, is_bot

    def _fresh_text(self) -> str:
        mu = math.log(self.t.words_mean)
        while True:
            n = min(self.t.words_max, max(1, int(self.rng.lognormvariate(mu, 0.6))))
            text = " ".join(self.rng.choice(VOCAB) for _ in range(n))
            if text not in self._seen:
                return text

    def _text(self) -> tuple[str, str | None]:
        r = self.rng.random()
        if self._texts and r < self.t.exact_dup_share:
            return self.rng.choice(self._texts), "exact"
        if self._texts and r < self.t.exact_dup_share + self.t.near_dup_share:
            words = self.rng.choice(self._texts).split(" ")
            if len(words) < 10:  # too short to stay near-identical after an edit
                words = words + [self.rng.choice(VOCAB) for _ in range(10 - len(words))]
            words[self.rng.randrange(len(words))] = self.rng.choice(VOCAB)
            text = " ".join(words)
            if text not in self._seen:
                self._seen.add(text)
                return text, "near"
        text = self._fresh_text()
        self._seen.add(text)
        self._texts.append(text)
        return text, None

    # --- updates ----------------------------------------------------------

    def message(self, day: dt.date, sticker_ok: bool = True) -> Update:
        """One same-chat message dated on ``day`` (or, with ``late_share``
        probability, on the day before)."""
        uid, name, is_bot = self._user()
        event_day = day - dt.timedelta(days=1) if self.rng.random() < self.t.late_share else day
        start = int(dt.datetime(event_day.year, event_day.month, event_day.day,
                                tzinfo=dt.timezone.utc).timestamp())
        date = start + self.rng.randrange(86_400)
        msg: dict = {
            "message_id": self._message_id,
            "from": {"id": uid, "is_bot": is_bot, "first_name": name},
            "chat": {"id": CHAT_ID, "type": "supergroup"},
            "date": date,
        }
        text = planted = None
        if sticker_ok and self.rng.random() < self.t.sticker_share:
            msg["sticker"] = {"emoji": "+", "file_id": f"S{self.rng.randrange(10**9)}"}
        else:
            text, planted = self._text()
            msg["text"] = text
        body = json.dumps({"update_id": self._update_id, "message": msg},
                          ensure_ascii=False, separators=(",", ":"))
        self._update_id += 1
        self._message_id += 1
        return Update("ok", body, msg["message_id"], date, text, uid, name,
                      is_bot, planted)

    def update(self, day: dt.date) -> Update:
        """One webhook body: foreign, malformed or a same-chat message."""
        r = self.rng.random()
        if r < self.t.malformed_share:
            body = '{"update_id":%d,"message":{"message_id":{broken' % self._update_id
            self._update_id += 1
            return Update("malformed", body)
        if r < self.t.malformed_share + self.t.foreign_share:
            body = json.dumps({"update_id": self._update_id, "message": {
                "message_id": self.rng.randrange(10**6),
                "from": {"id": 1, "is_bot": False, "first_name": "Zed"},
                "chat": {"id": FOREIGN_CHAT_ID, "type": "private"},
                "date": 1_700_000_000, "text": "foreign chat"}},
                separators=(",", ":"))
            self._update_id += 1
            return Update("foreign", body)
        return self.message(day)

    def day(self, day: dt.date, n: int) -> list[Update]:
        return [self.update(day) for _ in range(n)]


def _main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--n", type=int, default=1000, help="updates to write")
    p.add_argument("--day", default="2024-01-01", help="landing day (ISO)")
    for f in dataclasses.fields(Traffic):
        p.add_argument("--" + f.name.replace("_", "-"), type=type(f.default),
                       default=f.default)
    a = p.parse_args(argv)
    traffic = Traffic(**{f.name: getattr(a, f.name) for f in dataclasses.fields(Traffic)})
    out = sys.stdout
    for u in Generator(a.seed, traffic).day(dt.date.fromisoformat(a.day), a.n):
        out.write(u.body + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(_main(sys.argv[1:]))
