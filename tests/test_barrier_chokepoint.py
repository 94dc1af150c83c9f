"""Source guard: ``session.barrier`` is the package's only
materialization barrier, so ``barrier_scope`` sees every pin.

A direct ``.localCheckpoint(`` or ``.checkpoint(`` call anywhere else
would pin an RDD no scope releases, and the per-frame id attribute the
scopes replaced must not come back.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "machine_downtime_monitor_on_aws_spark"
_CHECKPOINT_CALL = re.compile(r"\.(localCheckpoint|checkpoint)\(")


def test_checkpoints_only_in_session():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "_spark_graft_ckpt_ids" in line or (
                rel != "session.py" and _CHECKPOINT_CALL.search(line)
            ):
                offenders.append(f"{rel}:{no}: {line.strip()}")
    assert PKG.joinpath("session.py").is_file()
    assert not offenders, "\n".join(offenders)
