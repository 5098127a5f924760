"""Ledger reads: the newest entry, the covered GTID set and the seed
position each cost one file, however long the ledger."""

from __future__ import annotations

import builtins

from mysql_cdc_spark.pipeline import ledger as ledger_mod
from mysql_cdc_spark.pipeline.ledger import Ledger, LedgerEntry


def test_last_opens_one_file(tmp_path, monkeypatch):
    led = Ledger(str(tmp_path))
    assert led.last() is None and led.next_batch_id() == 1
    opened = []

    def counting_open(path, *args, **kwargs):
        opened.append(path)
        return builtins.open(path, *args, **kwargs)

    monkeypatch.setattr(ledger_mod, "open", counting_open, raising=False)
    uuid = "24bc7850-2c16-11e6-a073-0242ac110001"
    # a batch-0 seed, then batches that each record the cumulative set
    led.append(LedgerEntry(0, f"{uuid}:1", "bin.000000", 4, 0, 0.0))
    for n in (1, 200):
        for b in range(led.next_batch_id(), n + 1):
            led.append(
                LedgerEntry(b, f"{uuid}:1-{b + 1}", f"bin.{b:06d}", 4 * b, b, 0.0)
            )
        opened.clear()
        last = led.last()
        assert (last.batch_id, last.max_file, last.snapshot_version) == (
            n, f"bin.{n:06d}", n,
        )
        assert len(opened) == 1
        opened.clear()
        assert str(led.covered_gtid_set()) == f"{uuid}:1-{n + 1}"
        assert len(opened) == 1
        opened.clear()
        assert led.seed_position() == ("bin.000000", 4)
        assert len(opened) == 1
        opened.clear()
        assert led.entry(1).max_file == "bin.000001"
        assert len(opened) == 1
    # an unfinished append (its tmp file) is not an entry
    (tmp_path / "ledger" / "00000201.json.tmp").write_text("{")
    assert led.last().batch_id == 200 and led.resume_position() == ("bin.000200", 800)
    assert led.entry(201) is None
