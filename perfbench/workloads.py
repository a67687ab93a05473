"""The two link workloads and their timed unit.

batch_link         link_pipeline on the default (localCheckpoint) path,
                   ending in a full materialisation of public_view() to a
                   noop sink.
checkpointed_link  the run_link_job.py shape: link_pipeline with a
                   checkpoint_dir (every stage and _metrics go to
                   parquet), the public output written to parquet, then a
                   second call that resumes from the completed stages and
                   writes the output again.

Both read the same kind of seeded page table from parquet and do the same
linking compute; they differ in the barrier and sink path, so a change
that speeds one mode and slows the other shows on one of them."""

from __future__ import annotations

import os
import shutil
import time

from . import inputs


class LinkWorkload:
    name = ""
    n_pages = 0
    # wall of one warm unit on 4 cores, as measured when the benchmark was
    # defined; a run of --seconds makes as many whole units as fit, the
    # same number on every commit
    nominal_unit_s = 1.0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.pages = None
        self.cfg = None

    def prepare(self) -> None:
        from pelinker_spark.pipeline import LinkConfig

        self.cfg = LinkConfig()
        self.pages = inputs.write_pages(
            self.spark, os.path.join(self.work, "pages"), self.n_pages, self.seed
        )

    def units_for(self, seconds: int) -> int:
        return max(1, int(seconds // self.nominal_unit_s))

    def unit_extra(self, out) -> dict:
        return {}


class BatchLink(LinkWorkload):
    name = "batch_link"
    n_pages = 2000
    nominal_unit_s = 4.5

    def unit(self, index: int):
        from pelinker_spark.pipeline import link_pipeline

        res = link_pipeline(self.spark, self.pages, cfg=self.cfg)
        res.public_view().write.format("noop").mode("overwrite").save()
        return res

    def release(self, res) -> None:
        if res is not None:
            res.unpersist()

    def output_frame(self, res):
        return res.public_view()

    def check(self, res) -> dict:
        """Outside the timed units: pairwise F1 against the planted gold."""
        f1 = inputs.pairwise_f1(self.spark, res.clusters, self.n_pages, self.seed)
        return {"pairwise_f1": f1, "checks": {"pairwise_f1>=0.99": f1 >= 0.99}}


class CheckpointedLink(LinkWorkload):
    name = "checkpointed_link"
    n_pages = 1000
    nominal_unit_s = 9.0

    def unit(self, index: int):
        from pelinker_spark.pipeline import link_pipeline

        d = os.path.join(self.work, f"ck{index}")
        ckpt, out1, out2 = f"{d}/ckpt", f"{d}/out", f"{d}/out_resumed"
        res = link_pipeline(self.spark, self.pages, cfg=self.cfg, checkpoint_dir=ckpt)
        res.public_view().write.mode("overwrite").parquet(out1)
        t0 = time.monotonic()
        res2 = link_pipeline(self.spark, self.pages, cfg=self.cfg, checkpoint_dir=ckpt)
        res2.public_view().write.mode("overwrite").parquet(out2)
        return {"dir": d, "ckpt": ckpt, "out": out1, "resumed": out2,
                "resume_s": time.monotonic() - t0}

    def unit_extra(self, out) -> dict:
        return {"resume_s": out["resume_s"]} if out else {}

    def release(self, out) -> None:
        if out is not None:
            shutil.rmtree(out["dir"], ignore_errors=True)

    def output_frame(self, out):
        return self.spark.read.parquet(out["out"])

    def check(self, out) -> dict:
        """Outside the timed units: the resumed output equals the first
        (row count and order-insensitive digest), and pairwise F1 of the
        written output against the planted gold."""
        first = self.spark.read.parquet(out["out"])
        resumed = self.spark.read.parquet(out["resumed"])
        n1, d1 = inputs.frame_digest(first)
        n2, d2 = inputs.frame_digest(resumed)
        f1 = inputs.pairwise_f1(self.spark, resumed, self.n_pages, self.seed)
        return {
            "pairwise_f1": f1,
            "output_rows": n1,
            "output_digest": d1,
            "checks": {
                "pairwise_f1>=0.99": f1 >= 0.99,
                "output_rows>0": n1 > 0,
                "resume_equals_first": (n1, d1) == (n2, d2),
            },
        }


WORKLOADS = {w.name: w for w in (BatchLink, CheckpointedLink)}
