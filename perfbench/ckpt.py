"""Read a streaming query's checkpoint to learn, per input file, which
micro-batch consumed it and when that batch committed.

Layout (Spark 4.1, file source, one source per query):

- ``sources/0/<logOffset>`` (and ``<n>.compact``): JSON lines
  ``{"path", "timestamp", "batchId": <logOffset>}`` after a ``v1`` header;
- ``offsets/<batchId>``: header, metadata line, then the source offset
  ``{"logOffset": k}``; a no-data batch repeats its predecessor's k;
- ``commits/<batchId>``: written when the batch commits; its mtime is the
  commit wall time.
"""

from __future__ import annotations

import json
import os


def _int_names(d: str) -> list[int]:
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    return sorted(int(n) for n in names if n.isdigit())


def _json_lines(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f.read().splitlines()[1:] if line.startswith("{")]


class Checkpoint:
    def __init__(self, root: str):
        self.root = root
        # log files are written once by atomic rename: parse each once
        self._offsets: dict[int, int] = {}
        self._sources: dict[str, list[dict]] = {}

    def log_offset(self, batch_id: int) -> int | None:
        if batch_id not in self._offsets:
            try:
                lines = _json_lines(os.path.join(self.root, "offsets", str(batch_id)))
            except FileNotFoundError:
                return None
            if not lines or "logOffset" not in lines[-1]:
                return None
            self._offsets[batch_id] = lines[-1]["logOffset"]
        return self._offsets[batch_id]

    def committed_log_offset(self) -> int:
        """logOffset of the newest committed batch, -1 before any commit."""
        commits = _int_names(os.path.join(self.root, "commits"))
        if not commits:
            return -1
        off = self.log_offset(commits[-1])
        return -1 if off is None else off

    def file_log_offsets(self) -> dict[str, int]:
        """basename of each input file -> the source logOffset it joined."""
        d = os.path.join(self.root, "sources", "0")
        out: dict[str, int] = {}
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return out
        for n in names:
            if n.startswith(".") or n.endswith(".tmp"):
                continue
            if n not in self._sources:
                self._sources[n] = _json_lines(os.path.join(d, n))
            for e in self._sources[n]:
                out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def commit_times(self) -> dict[str, tuple[int, float]]:
        """basename of each consumed input file -> (batchId, commit wall
        time) of the first committed batch whose offset covers it."""
        commits = _int_names(os.path.join(self.root, "commits"))
        batches = []
        for b in commits:
            off = self.log_offset(b)
            if off is not None:
                mtime = os.stat(os.path.join(self.root, "commits", str(b))).st_mtime
                batches.append((off, b, mtime))
        out: dict[str, tuple[int, float]] = {}
        for name, k in self.file_log_offsets().items():
            hit = next(((b, t) for off, b, t in batches if off >= k), None)
            if hit is not None:
                out[name] = hit
        return out
