"""In-memory spans: run -> pass -> query -> {build, action} -> Spark job.

Spans are recorded by the benchmark around its calls into the engine.
Spark job spans are added afterwards from the status store; a job is
parented to the call whose job group it ran under.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    kind: str  # run | pass | query | build | action | solve | job
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """Spark job group of the jobs this span launches."""
        return f"perfbench-{self.span_id}"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []

    def start(self, name: str, kind: str, parent: Span | None, **attrs) -> Span:
        span = Span(len(self.spans), parent.span_id if parent else None,
                    name, kind, time.time(), attrs=attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, kind: str, parent: Span | None, **attrs):
        span = self.start(name, kind, parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()

    def add_jobs(self, parent: Span, jobs: list[dict]) -> None:
        for job in jobs:
            self.spans.append(Span(
                len(self.spans), parent.span_id, job["name"], "job",
                job["start"], job["end"],
                {"job_id": job["jobId"], "class": job["class"],
                 "stages": job["stageIds"]},
            ))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(asdict(span)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            total += end - start
            reach = end
    return total
