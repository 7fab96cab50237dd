"""Contact records for the ``contact_incremental`` workload, and the
benchmark's own model of what the ETL job must make of them.

Pure Python on purpose: nothing here imports the engine, so the expected
sink and state are derived independently of the code under test. The
phone semantics are the reference's ``extractPhones`` / ``mergePhones``
(SURVEY.md §2h T1 and §2i U2):

- tokenize: remove every space, split on runs of ``,`` ``;`` ``/``,
  drop empty tokens;
- merge, per key in arrival (id) order: the ten slots keep their
  positions, new phones are deduplicated against the slots and each
  other, survivors fill empty slots left to right, leftovers go to the
  extras list after the existing extras, deduplicated.
"""

from __future__ import annotations

import datetime as dt
import random
import re

N_SLOTS = 10
SLOT_COLS = ["tel_no"] + [f"tel_no{i}" for i in range(2, N_SLOTS + 1)]
# the contact_batch columns of FIXTURES.md §1
RECORD_SCHEMA = (
    "id bigint, hn_code string, firstname string, lastname string, fullname string, "
    "tel_no string, address string, subdistrict string, district string, "
    "province string, zipcode int, full_address string, customer_status string, "
    "gender string, birthdate date, submit_data_status string, "
    "submit_call_status string, create_date timestamp, health_detail string, "
    "comment string, health string, information string"
)
# what the sink keeps of a key's last record, besides the phones
ATTR_COLS = [
    c.split()[0] for c in RECORD_SCHEMA.split(", ") if c.split()[0] not in ("id", "tel_no")
]
STORED_SHARE = 0.20  # rows that repeat a key stored by an earlier page
IN_PAGE_SHARE = 0.10  # rows that repeat a key of the same page
MAX_PHONES = 6

_SPLIT = re.compile(r"[,;/]+")
_DELIMS = [",", ";", "/", ", ", " ; ", " / ", ",,", ";/", ", ,"]
_FIRST = ["somchai", "malee", "anan", "kanya", "niran", "pim", "sak", "wan"]
_LAST = ["srisuk", "chaiyo", "boonmee", "kaewta", "thongdee", "rattana"]
_PROVINCES = ["bangkok", "chiang mai", "khon kaen", "phuket", "songkhla", "udon thani"]
_STATUS = ["new", "active", "inactive", "blocked"]
_TEXT = ["follow up", "no answer", "call back later", "diabetes", "hypertension", "ok"]


def extract_phones(s: str | None) -> list[str]:
    if s is None:
        return []
    return [t for t in _SPLIT.split(s.replace(" ", "")) if t]


def merge_phones(
    slots: list[str | None], extras: list[str], new_phones: list[str]
) -> tuple[list[str | None], list[str]]:
    slots = list(slots)
    used = {p for p in slots if p}
    queue: list[str] = []
    for p in new_phones:
        if p not in used and p not in queue:
            queue.append(p)
    for i in range(N_SLOTS):
        if not queue:
            break
        if slots[i] is None:
            slots[i] = queue.pop(0)
            used.add(slots[i])
    out: list[str] = []
    for p in list(extras) + queue:
        if p not in used and p not in out:
            out.append(p)
    return slots, out


class ContactStream:
    """Deterministic record stream for one seed, after the ``contact_batch``
    fixture of FIXTURES.md §1.

    ``preload`` records build the stored state; 10% of them repeat a key
    of the same page. Every later page of ``page_size`` records mixes:

    - 20% that update a key stored by an earlier page;
    - 10% that repeat a key of the same page;
    - 70% new keys.

    ``tel_no`` holds 0 to 6 phones: each is one the key already had (half
    of the time, when it has one) or a new number, sometimes one twice in
    a record, with spaces inside numbers, blanks between delimiters and
    mixed ``,`` ``;`` ``/``. Keys that collect several records overflow
    the ten slots into extras. The other columns are nullable attributes,
    sometimes ``''``.
    """

    def __init__(self, seed: int, preload: int, page_size: int = 1000):
        self.rng = random.Random(seed)
        self.preload = preload
        self.page_size = page_size
        self.records: list[dict] = []
        self.phones: dict[str, list[str]] = {}
        self.stored_keys: list[str] = []  # keys of completed pages
        self.n_keys = 0

    def _new_key(self) -> str:
        self.n_keys += 1
        key = f"HN{self.n_keys:07d}"
        self.phones[key] = []
        return key

    def _phone(self, key: str) -> str:
        rng, known = self.rng, self.phones[key]
        if known and rng.random() < 0.5:
            return rng.choice(known)
        p = "0" + "".join(rng.choice("0123456789") for _ in range(9))
        known.append(p)
        return p

    def _phone_string(self, key: str) -> str | None:
        rng = self.rng
        n = rng.randint(0, MAX_PHONES)
        if n == 0:
            return rng.choice([None, "", " ", " , ", ";/"])
        picks = [self._phone(key) for _ in range(n)]
        if n > 1 and rng.random() < 0.2:
            picks[-1] = picks[0]  # a phone repeated inside one record
        parts = []
        for p in picks:
            if rng.random() < 0.3:
                cut = rng.randint(2, len(p) - 2)
                p = p[:cut] + " " + p[cut:]
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out += rng.choice(_DELIMS) + p
        if rng.random() < 0.1:
            out = " " + out + rng.choice(["", " ", ","])
        return out

    def _maybe(self, value, null: float = 0.1):
        roll = self.rng.random()
        if roll < null:
            return None
        if roll < null + 0.03 and isinstance(value, str):
            return ""
        return value

    def _record(self, rid: int, key: str) -> dict:
        rng, m = self.rng, self._maybe
        first, last = rng.choice(_FIRST), rng.choice(_LAST)
        province = rng.choice(_PROVINCES)
        address = f"{rng.randint(1, 999)}/{rng.randint(1, 99)} moo {rng.randint(1, 12)}"
        return {
            "id": rid,
            "hn_code": key,
            "firstname": m(f"{first}-{rid}"),
            "lastname": m(last),
            "fullname": m(f"{first} {last}"),
            "tel_no": self._phone_string(key),
            "address": m(address),
            "subdistrict": m(f"tambon {rng.randint(1, 40)}"),
            "district": m(f"amphoe {rng.randint(1, 20)}"),
            "province": m(province),
            "zipcode": m(rng.randint(10000, 96999)),
            "full_address": m(f"{address} {province}"),
            "customer_status": rng.choice(_STATUS),
            "gender": rng.choice(["M", "F", "U"]),
            "birthdate": m(dt.date(1940, 1, 1) + dt.timedelta(days=rng.randint(0, 25000))),
            "submit_data_status": m(rng.choice(["Y", "N"]), 0.3),
            "submit_call_status": m(rng.choice(["Y", "N"]), 0.3),
            "create_date": m(
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randint(0, 60_000_000))
            ),
            "health_detail": m(rng.choice(_TEXT), 0.5),
            "comment": m(rng.choice(_TEXT), 0.5),
            "health": m(rng.choice(_TEXT), 0.5),
            "information": m(rng.choice(_TEXT), 0.5),
        }

    def _make_page(self, n: int) -> None:
        page_keys: list[str] = []
        stored = STORED_SHARE if self.stored_keys else 0.0
        for _ in range(n):
            roll = self.rng.random()
            if roll < stored:
                key = self.rng.choice(self.stored_keys)
            elif roll < stored + IN_PAGE_SHARE and page_keys:
                key = self.rng.choice(page_keys)
            else:
                key = self._new_key()
            page_keys.append(key)
            self.records.append(self._record(len(self.records) + 1, key))
        known = set(self.stored_keys)
        self.stored_keys.extend(k for k in dict.fromkeys(page_keys) if k not in known)

    def ensure(self, last_id: int) -> None:
        """Generate pages until records up to ``last_id`` exist."""
        while len(self.records) < last_id:
            self._make_page(self.page_size if self.records else self.preload)

    def fetch(self, last_id: int, limit: int) -> dict:
        """The upstream keyset API: ``id > last_id LIMIT limit``."""
        self.ensure(last_id + limit)
        rows = self.records[last_id : last_id + limit]
        return {"data": rows, "count": len(rows)}


def fold(records: list[dict]) -> dict[str, dict]:
    """Expected final row per key after processing ``records`` in id order."""
    out: dict[str, dict] = {}
    for r in sorted(records, key=lambda r: r["id"]):
        cur = out.get(r["hn_code"])
        slots, extras = (
            (cur["slots"], cur["extras"]) if cur else ([None] * N_SLOTS, [])
        )
        slots, extras = merge_phones(slots, extras, extract_phones(r["tel_no"]))
        out[r["hn_code"]] = {
            "recid": r["id"],
            "last": r,
            "slots": slots,
            "extras": extras,
        }
    return out


def check_contacts(
    records: list[dict],
    counters: list[tuple[int, int]],
    sink_rows: list[dict],
    state_rows: list[dict],
    watermark: int,
) -> list[str]:
    """Every way the job's output may disagree with the records it was fed.

    ``counters`` holds each processed page's (insert_count, update_count);
    ``sink_rows`` and ``state_rows`` are the tables as read back after the
    run, ``watermark`` the last successful id in the audit log. Returns
    a list of problems, empty when the output is correct.
    """
    problems: list[str] = []
    want = fold(records)
    inserts = sum(i for i, _ in counters)
    updates = sum(u for _, u in counters)
    if inserts + updates != len(records):
        problems.append(
            f"inserts+updates {inserts}+{updates} != {len(records)} records fetched"
        )
    if inserts != len(want):
        problems.append(f"inserts {inserts} != {len(want)} first occurrences of keys")
    top = max((r["id"] for r in records), default=0)
    if watermark != top:
        problems.append(f"watermark {watermark} != largest id {top}")

    tokens: dict[str, set[str]] = {}
    for r in records:
        tokens.setdefault(r["hn_code"], set()).update(extract_phones(r["tel_no"]))

    def check_key(where: str, key: str, slots: list, extras: list) -> None:
        got = [p for p in slots if p] + list(extras)
        if len(got) != len(set(got)):
            problems.append(f"{where} {key}: duplicate phones {got}")
        if set(got) != tokens.get(key, set()):
            problems.append(
                f"{where} {key}: phones {sorted(set(got))} != tokens "
                f"{sorted(tokens.get(key, set()))}"
            )
        exp = want.get(key)
        if exp is None:
            problems.append(f"{where} {key}: key never generated")
            return
        if [p for p in slots if p] != [p for p in exp["slots"] if p] or list(
            extras
        ) != exp["extras"]:
            problems.append(
                f"{where} {key}: slots/extras {slots}/{extras} != "
                f"{exp['slots']}/{exp['extras']}"
            )

    for where, rows in (("sink", sink_rows), ("state", state_rows)):
        keys = [r["hn_code"] for r in rows]
        if len(keys) != len(set(keys)):
            problems.append(f"{where}: {len(keys) - len(set(keys))} duplicate keys")
        if set(keys) != set(want):
            missing = sorted(set(want) - set(keys))[:3]
            extra = sorted(set(keys) - set(want))[:3]
            problems.append(
                f"{where}: {len(set(keys))} keys != {len(want)} distinct keys "
                f"(missing {missing}, unexpected {extra})"
            )
    for r in state_rows:
        check_key("state", r["hn_code"], list(r["slots"] or []), list(r["extras"] or []))
    for r in sink_rows:
        key = r["hn_code"]
        slots = [r.get(c) for c in SLOT_COLS]
        note = r.get("note_other")
        extras = note.split(",") if note else []
        check_key("sink", key, slots, extras)
        exp = want.get(key)
        if exp is None:
            continue
        if slots != exp["slots"]:
            problems.append(f"sink {key}: slot positions {slots} != {exp['slots']}")
        if r.get("recid") != exp["recid"]:
            problems.append(f"sink {key}: recid {r.get('recid')} != last id {exp['recid']}")
        stale = [c for c in ATTR_COLS if c != "hn_code" and r.get(c) != exp["last"][c]]
        if stale:
            problems.append(f"sink {key}: {stale} differ from record {exp['recid']}")
        if r.get("rectype") != "BIGDATA":
            problems.append(f"sink {key}: rectype {r.get('rectype')!r}")
    return problems[:20]
