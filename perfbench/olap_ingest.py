"""olap_ingest — the managed-table workload: ``olap_read``'s query
stream and ``ingest_mutate``'s write cycle in one session, each on its
own table. Each batch is one olap query batch followed by one ingest
cycle; the run closes with the ingest table's maintenance and checks.

The two halves share one process so that the benchmark's total run time
fits its budget; their op classes stay apart in the detail record
(``short``/``scan``/``sketch`` versus ``publish``/``import``/``dml``/
``read_miss``/``read_hit``/``changes``/``maintain``).
"""

from __future__ import annotations

import os

from common import Op, Workload
from ingest import IngestMutate
from olap import OlapRead


class OlapIngest(Workload):
    def __init__(self, spark, work: str, seed: int) -> None:
        super().__init__(spark, work, seed)
        # the halves share this workload's mode, so the runner's switches
        # reach both
        self.olap = OlapRead(spark, os.path.join(work, "olap"), seed, self.mode)
        self.ingest = IngestMutate(spark, os.path.join(work, "ingest"), seed, self.mode)

    def setup(self) -> None:
        self.olap.setup()
        self.ingest.setup()
        self.fingerprint = f"{self.olap.fingerprint}-{self.ingest.fingerprint}"

    def discard(self) -> None:
        self.olap.discard()
        self.ingest.discard()
        super().discard()

    def warm_ops(self) -> list[Op]:
        return self.olap.warm_ops() + self.ingest.warm_ops()

    def batches(self):
        for reads, writes in zip(self.olap.batches(), self.ingest.batches()):
            yield reads + writes

    def closing_ops(self) -> list[Op]:
        return self.ingest.closing_ops()

    def final_checks(self) -> list[str]:
        return self.olap.final_checks() + self.ingest.final_checks()

    def detail_metrics(self, samples: dict[str, list[float]]) -> dict:
        return {**self.olap.detail_metrics(samples),
                **self.ingest.detail_metrics(samples)}
