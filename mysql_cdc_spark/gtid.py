"""GTID interval algebra — pure-Python, semantics 1:1 with the reference.

MySQL side (GtidSet / UuidSet / Interval / Uuid / Gtid) mirrors
``/root/reference/src/providers/mysql/gtid/*.rs``:

- interval insert with binary search + adjacent-interval collapse:
  ``uuid_set.rs:29-98``
- GtidSet parse/format: ``gtid_set.rs:27-57,70-82``
- Uuid little-endian byte/string duality: ``uuid.rs:12-31``
- Interval display (single txid collapses to one number): ``interval.rs:19-28``

MariaDB side (GtidList / MariaGtid) mirrors
``/root/reference/src/providers/mariadb/gtid/gtid_list.rs:19-75`` (per-domain
last-wins replace).

This state is driver-side ledger metadata: a GtidSet for a 10^10-event
replay is a handful of (uuid, interval-list) entries — kilobytes — so a
pure-Python implementation is the right tool; the *per-event* covered-check
used during replay runs in the decode tasks, as a numpy interval lookup over
``to_intervals()`` (``binlog/decoder.py`` ``covered_rows``), never by calling
into this module per row.
"""

from __future__ import annotations

import re

UUID_LENGTH = 36  # gtid_set.rs:9

# MySQL 8.4 tagged-GTID tag (WL#15294, public docs): up to 32 chars,
# starts with a letter or underscore, case-insensitive (stored lowercase)
TAG_RE = re.compile(r"^[a-z_][a-z0-9_]{0,31}$")
_INTERVAL_RE = re.compile(r"^\d+(-\d+)?$")


class GtidError(ValueError):
    pass


class Uuid:
    """Server UUID; mirrors uuid.rs:12-31 (16 raw bytes + dashed hex text)."""

    __slots__ = ("data", "uuid")

    def __init__(self, data: bytes, uuid: str):
        self.data = data
        self.uuid = uuid

    @classmethod
    def from_bytes(cls, data: bytes) -> "Uuid":
        if len(data) != 16:
            raise GtidError("Uuid requires 16 bytes")
        h = data.hex()
        uuid = f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
        return cls(bytes(data), uuid)

    @classmethod
    def parse(cls, uuid: str) -> "Uuid":
        data = bytes.fromhex(uuid.replace("-", ""))
        if len(data) != 16:
            raise GtidError(f"Invalid uuid: {uuid}")
        return cls(data, uuid)

    @classmethod
    def parse_lenient(cls, source: str) -> "Uuid":
        """Accept non-UUID source ids (MariaDB ``domain-server`` keys) by
        carrying the raw text; identity = the text. Lets the interval-set
        ledger track MariaDB streams (strictly more precise than GtidList's
        last-wins, gtid_list.rs:51-60) in one representation."""
        try:
            return cls.parse(source)
        except (GtidError, ValueError):
            return cls(source.encode("utf-8"), source)

    def __str__(self) -> str:
        return self.uuid

    def __eq__(self, other) -> bool:
        return isinstance(other, Uuid) and self.data == other.data

    def __hash__(self):
        return hash(self.data)


class Interval:
    """Contiguous inclusive [start, end] txid range; interval.rs:4-28."""

    __slots__ = ("start", "end")

    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end

    def __str__(self) -> str:
        if self.start == self.end:
            return str(self.start)
        return f"{self.start}-{self.end}"

    def __repr__(self) -> str:
        return f"Interval({self.start}, {self.end})"

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, Interval)
            and self.start == other.start
            and self.end == other.end
        )


class Gtid:
    """MySQL 5.6+ GTID; gtid.rs:6-29. ``tag`` carries the MySQL 8.4
    tagged-GTID tag (``uuid:tag:txid``; beyond-reference) — empty for the
    classic untagged form."""

    __slots__ = ("source_id", "transaction_id", "tag")

    def __init__(self, source_id: Uuid, transaction_id: int, tag: str = ""):
        self.source_id = source_id
        self.transaction_id = transaction_id
        self.tag = _normalize_tag(tag)

    @classmethod
    def parse(cls, text: str) -> "Gtid":
        parts = text.split(":")
        if len(parts) == 2:
            return cls(Uuid.parse(parts[0]), int(parts[1]))
        if len(parts) == 3:
            return cls(Uuid.parse(parts[0]), int(parts[2]), tag=parts[1])
        raise GtidError(f"Invalid GTID format {text}")

    def __str__(self) -> str:
        if self.tag:
            return f"{self.source_id}:{self.tag}:{self.transaction_id}"
        return f"{self.source_id}:{self.transaction_id}"


def _normalize_tag(tag: str) -> str:
    if not tag:
        return ""
    low = tag.lower()
    if not TAG_RE.match(low):
        raise GtidError(f"Invalid GTID tag {tag!r}")
    return low


def find_interval_index(intervals: list[Interval], transaction_id: int) -> int:
    """Binary search for insert/merge position; uuid_set.rs:61-81."""
    result_index = 0
    left_index = 0
    right_index = len(intervals)

    while left_index < right_index:
        result_index = (left_index + right_index) // 2
        interval = intervals[result_index]
        if interval.end < transaction_id:
            left_index = result_index + 1
        elif transaction_id < interval.start:
            right_index = result_index
        else:
            return result_index
    if intervals and intervals[result_index].end < transaction_id:
        result_index += 1
    return result_index


def collapse_intervals(intervals: list[Interval]) -> None:
    """Merge adjacent [a,b],[b+1,c] → [a,c] in place; uuid_set.rs:83-98."""
    index = 0
    while index < len(intervals) - 1:
        right = intervals[index + 1]
        left = intervals[index]
        if left.end + 1 == right.start:
            left.end = right.end
            del intervals[index + 1]
        else:
            index += 1


class UuidSet:
    """Replication state for one server uuid; uuid_set.rs:8-58. ``tag``
    scopes the set to one MySQL 8.4 GTID tag (tagged and untagged
    intervals of the same uuid are disjoint sequences)."""

    __slots__ = ("source_id", "intervals", "tag")

    def __init__(
        self, source_id: Uuid, intervals: list[Interval], tag: str = ""
    ):
        if len(intervals) > 1:
            collapse_intervals(intervals)
        self.source_id = source_id
        self.intervals = intervals
        self.tag = _normalize_tag(tag)

    @property
    def key(self) -> str:
        """Ledger dict key; matches decode's gtid_source text form."""
        return f"{self.source_id}:{self.tag}" if self.tag else self.source_id.uuid

    def add_gtid(self, gtid: Gtid) -> bool:
        """Insert txid; returns False if already covered; uuid_set.rs:29-58."""
        if self.source_id.data != gtid.source_id.data or self.tag != gtid.tag:
            raise GtidError("SourceId of the passed gtid doesn't belong to the UuidSet")

        txid = gtid.transaction_id
        index = find_interval_index(self.intervals, txid)
        added = False
        if index < len(self.intervals):
            interval = self.intervals[index]
            if interval.start == txid + 1:
                interval.start = txid
                added = True
            elif interval.end + 1 == txid:
                interval.end = txid
                added = True
            elif interval.start <= txid <= interval.end:
                return False
        if not added:
            self.intervals.insert(index, Interval(txid, txid))
        if len(self.intervals) > 1:
            collapse_intervals(self.intervals)
        return True

    def contains(self, transaction_id: int) -> bool:
        """Covered-check used by the resume filter (ST5, uuid_set.rs:46-48)."""
        idx = find_interval_index(self.intervals, transaction_id)
        if idx < len(self.intervals):
            iv = self.intervals[idx]
            return iv.start <= transaction_id <= iv.end
        return False

    def __str__(self) -> str:
        return f"{self.key}:" + ":".join(str(x) for x in self.intervals)


class GtidSet:
    """MySQL executed-GTID set; gtid_set.rs:13-82."""

    __slots__ = ("uuid_sets",)

    def __init__(self, uuid_sets: dict[str, UuidSet] | None = None):
        self.uuid_sets: dict[str, UuidSet] = uuid_sets if uuid_sets is not None else {}

    @classmethod
    def parse(cls, gtid_set: str) -> "GtidSet":
        """Parse canonical text form; gtid_set.rs:27-57. Accepts MySQL 8.4
        tagged sets (beyond-reference): interval tokens after the uuid may
        be interleaved with tag tokens, each tag scoping the intervals
        that follow it (``uuid:1-5:tag_a:1-3:tag_b:7``); the same uuid may
        also repeat across comma parts."""
        if not gtid_set:
            return cls()
        gtid_set = gtid_set.replace("\n", "")
        result: dict[str, UuidSet] = {}
        for part in (x.strip() for x in gtid_set.split(",")):
            # source = first ':'-token: the 36-char uuid (gtid_set.rs:27-57)
            # or a MariaDB domain-server key (neither contains ':')
            source_text, _, interval_text = part.partition(":")
            source_id = Uuid.parse_lenient(source_text)
            tag = ""
            saw_interval = False
            for token in interval_text.split(":"):
                if _INTERVAL_RE.match(token):
                    rng = token.split("-")
                    iv = (
                        Interval(int(rng[0]), int(rng[0]))
                        if len(rng) == 1
                        else Interval(int(rng[0]), int(rng[1]))
                    )
                    key = f"{source_id.uuid}:{tag}" if tag else source_id.uuid
                    us = result.get(key)
                    if us is None:
                        us = UuidSet(
                            Uuid(source_id.data, source_id.uuid), [], tag=tag
                        )
                        result[key] = us
                    _splice_interval(us, iv.start, iv.end)
                    saw_interval = True
                elif TAG_RE.match(token.lower()):
                    tag = token.lower()  # scopes the intervals that follow
                else:
                    raise GtidError(f"Invalid interval format {token}")
            if not saw_interval:
                raise GtidError(f"GTID set part has no intervals: {part}")
        return cls(result)

    def add_gtid(self, gtid: Gtid) -> bool:
        """gtid_set.rs:60-67."""
        key = (
            f"{gtid.source_id.uuid}:{gtid.tag}" if gtid.tag
            else gtid.source_id.uuid
        )
        uuid_set = self.uuid_sets.get(key)
        if uuid_set is None:
            uuid_set = UuidSet(
                Uuid(gtid.source_id.data, gtid.source_id.uuid), [],
                tag=gtid.tag,
            )
            self.uuid_sets[key] = uuid_set
        return uuid_set.add_gtid(gtid)

    def contains(self, source_uuid: str, transaction_id: int) -> bool:
        us = self.uuid_sets.get(source_uuid)
        return us.contains(transaction_id) if us is not None else False

    def union(self, other: "GtidSet") -> "GtidSet":
        """Ledger merge across micro-batches (engine addition, not in ref)."""
        merged = GtidSet.parse(str(self))
        for us in other.uuid_sets.values():
            target = merged.uuid_sets.get(us.key)
            if target is None:
                target = UuidSet(
                    Uuid(us.source_id.data, us.source_id.uuid), [], tag=us.tag
                )
                merged.uuid_sets[us.key] = target
            for iv in us.intervals:
                _splice_interval(target, iv.start, iv.end)
        return merged

    def to_intervals(self) -> list[tuple[str, int, int]]:
        """Flatten to (source_key, start, end) rows for the per-row
        covered check; tagged sets key as ``uuid:tag``, matching the decode's
        gtid_source text for a tagged stream."""
        out = []
        for key in sorted(self.uuid_sets):
            for iv in self.uuid_sets[key].intervals:
                out.append((key, iv.start, iv.end))
        return out

    def __str__(self) -> str:
        """Canonical text (uuid-sorted); gtid_set.rs:70-82. Tagged sets
        group under their uuid the way the 8.4 server prints
        gtid_executed: untagged intervals first, then each tag's
        intervals, tags sorted (``uuid:1-5:tag_a:1-3``)."""
        by_uuid: dict[str, dict[str, UuidSet]] = {}
        for us in self.uuid_sets.values():
            by_uuid.setdefault(us.source_id.uuid, {})[us.tag] = us
        parts = []
        for uuid in sorted(by_uuid):
            groups = by_uuid[uuid]
            tokens = [uuid]
            for tag in sorted(groups, key=lambda t: (t != "", t)):
                us = groups[tag]
                if tag:
                    tokens.append(tag)
                tokens.extend(str(iv) for iv in us.intervals)
            parts.append(":".join(tokens))
        return ",".join(parts)


def _splice_interval(uuid_set: UuidSet, start: int, end: int) -> None:
    """Insert a whole [start, end] range, merging overlaps (ledger unions)."""
    ivs = uuid_set.intervals
    ivs.append(Interval(start, end))
    ivs.sort(key=lambda iv: iv.start)
    merged: list[Interval] = []
    for iv in ivs:
        if merged and iv.start <= merged[-1].end + 1:
            merged[-1].end = max(merged[-1].end, iv.end)
        else:
            merged.append(Interval(iv.start, iv.end))
    uuid_set.intervals = merged


# --------------------------------------------------------------------------
# MariaDB
# --------------------------------------------------------------------------


class MariaGtid:
    """MariaDB 10.0.2+ GTID; mariadb/gtid/gtid.rs:6-31."""

    __slots__ = ("domain_id", "server_id", "sequence")

    def __init__(self, domain_id: int, server_id: int, sequence: int):
        self.domain_id = domain_id
        self.server_id = server_id
        self.sequence = sequence

    @classmethod
    def parse(cls, text: str) -> "MariaGtid":
        domain_id, server_id, sequence = text.split("-")
        return cls(int(domain_id), int(server_id), int(sequence))

    def __str__(self) -> str:
        return f"{self.domain_id}-{self.server_id}-{self.sequence}"


class GtidList:
    """MariaDB per-domain last-wins GTID list; gtid_list.rs:8-75."""

    __slots__ = ("gtids",)

    def __init__(self, gtids: list[MariaGtid] | None = None):
        self.gtids: list[MariaGtid] = gtids if gtids is not None else []

    @classmethod
    def parse(cls, value: str) -> "GtidList":
        if not value:
            return cls()
        value = value.replace("\n", "")
        domain_map: set[int] = set()
        gtids = []
        for token in (x.strip() for x in value.split(",")):
            gtid = MariaGtid.parse(token)
            if gtid.domain_id in domain_map:
                raise GtidError("GtidList must consist of unique domain ids")
            domain_map.add(gtid.domain_id)
            gtids.append(gtid)
        return cls(gtids)

    def add_gtid(self, gtid: MariaGtid) -> bool:
        """Replace in place per domain (returns False), else append (True);
        gtid_list.rs:51-60."""
        for i, existing in enumerate(self.gtids):
            if existing.domain_id == gtid.domain_id:
                self.gtids[i] = gtid
                return False
        self.gtids.append(gtid)
        return True

    def __str__(self) -> str:
        return ",".join(str(x) for x in self.gtids)
