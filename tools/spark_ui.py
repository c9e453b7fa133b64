"""Task-duration stats of completed Spark stages, read from the live
application's UI REST API (the session needs ``spark.ui.enabled=true``).
Read by the skew tool ``bench_skew_ab.py``.

The address and application id come from the session itself, so a second
Spark app holding port 4040 is never read by mistake.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request


class StageStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _rest(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=10) as r:
            return json.load(r)

    def stage_ids(self) -> set[int]:
        return {s["stageId"] for s in self._rest("/stages")}

    def _task_stats(self, s: dict) -> dict | None:
        """min/median/max task duration of stage attempt ``s``; None when
        the UI kept no task summary for it."""
        try:
            ts = self._rest(
                f"/stages/{s['stageId']}/{s['attemptId']}"
                "/taskSummary?quantiles=0.0,0.5,1.0"
            )
        except urllib.error.HTTPError:
            return None
        dur = ts.get("duration") or [0, 0, 0]
        return {
            "stage_id": s["stageId"],
            "stage": s["name"].split("\n")[0][:80],
            "num_tasks": s["numTasks"],
            "task_ms_min": round(dur[0]),
            "task_ms_med": round(dur[1]),
            "task_ms_max": round(dur[2]),
        }

    def completed_since(self, before: set[int]) -> list[dict]:
        """Task stats of every stage completed since ``stage_ids()``
        returned ``before``."""
        stats = (
            self._task_stats(s)
            for s in self._rest("/stages?status=complete")
            if s["stageId"] not in before
        )
        return [t for t in stats if t is not None]
