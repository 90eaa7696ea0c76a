"""truncate_lineage routing (r12 ADVICE): iterative/multi-consumer
materialization must use fault-tolerant checkpoint() when a checkpoint dir
is configured — unreplicated localCheckpoint blocks turn one executor loss
into a whole-query failure on a real cluster — and localCheckpoint in
local mode (no configured storage)."""

import os
import types

from sedona_iceberg_extension_spark.lineage import truncate_lineage


class _FakeDF:
    """Records which checkpoint variant truncate_lineage picked."""

    def __init__(self, has_dir: bool):
        ctx = types.SimpleNamespace(
            getCheckpointDir=lambda: "/ckpt" if has_dir else None)
        self.sparkSession = types.SimpleNamespace(sparkContext=ctx)
        self.calls = []

    def checkpoint(self, eager=True):
        self.calls.append(("checkpoint", eager))
        return self

    def localCheckpoint(self, eager=True):
        self.calls.append(("localCheckpoint", eager))
        return self


def test_routes_to_reliable_checkpoint_with_dir():
    df = _FakeDF(has_dir=True)
    truncate_lineage(df)
    assert df.calls == [("checkpoint", False)]
    df = _FakeDF(has_dir=True)
    truncate_lineage(df, eager=True)
    assert df.calls == [("checkpoint", True)]


def test_falls_back_to_local_checkpoint_without_dir():
    df = _FakeDF(has_dir=False)
    truncate_lineage(df)
    assert df.calls == [("localCheckpoint", False)]


def test_probe_failure_falls_back_to_local():
    df = _FakeDF(has_dir=False)
    df.sparkSession = None  # getCheckpointDir probe raises
    truncate_lineage(df)
    assert df.calls == [("localCheckpoint", False)]


def test_env_override_forces_reliable_checkpoint(monkeypatch):
    """r14 ADVICE: on runtimes where the context probe cannot run at all
    (Spark Connect), SPARK_GRAFT_CHECKPOINT_DIR is the operator's explicit
    opt-in — it must route to reliable checkpoint() even when the probe
    would have raised, and must NOT warn (the opt-in resolved the
    ambiguity the warning exists for)."""
    import warnings

    from sedona_iceberg_extension_spark import lineage

    monkeypatch.setenv(lineage.FORCE_CHECKPOINT_ENV, "/mnt/ckpt")
    df = _FakeDF(has_dir=False)
    df.sparkSession = None  # probe would raise — override must win first
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        truncate_lineage(df)
    assert df.calls == [("checkpoint", False)]
    # and it also wins over a probe that would say "no dir" — the env is
    # an unconditional operator declaration (misconfiguration fails loudly
    # at checkpoint time, the right direction for a fault-tolerance knob)
    df = _FakeDF(has_dir=False)
    truncate_lineage(df, eager=True)
    assert df.calls == [("checkpoint", True)]


def test_env_override_empty_string_is_unset(monkeypatch):
    from sedona_iceberg_extension_spark import lineage

    monkeypatch.setenv(lineage.FORCE_CHECKPOINT_ENV, "")
    df = _FakeDF(has_dir=False)
    truncate_lineage(df)
    assert df.calls == [("localCheckpoint", False)]


def test_reliable_checkpoint_end_to_end(spark, tmp_path):
    """The reliable path on a real session: a fresh-session-free check —
    set the dir, checkpoint a frame, verify rows and that the RDD is
    reliably checkpointed, then restore local-mode behavior for the rest
    of the suite (Spark has no unset API; localCheckpoint still wins for
    callers only via truncate_lineage when the dir probe says none, so
    this test runs LAST-ish ordering-independent by not relying on other
    tests' checkpoint behavior)."""
    sc = spark.sparkContext
    had = sc._jsc.sc().getCheckpointDir().isDefined()
    if had:  # another run already configured one — routing test suffices
        return
    ck = str(tmp_path / "ck")
    os.makedirs(ck, exist_ok=True)
    sc.setCheckpointDir(ck)
    try:
        df = spark.range(100).withColumnRenamed("id", "n")
        out = truncate_lineage(df, eager=True)
        assert out.count() == 100
        # the reliable path writes RDD blocks under the configured dir
        # (df.rdd would rebuild a fresh uncheckpointed RDD — inspect disk)
        written = [os.path.join(dp, f) for dp, _, fs in os.walk(ck)
                   for f in fs]
        assert written, "reliable checkpoint wrote nothing to the dir"
    finally:
        # truly restore the no-dir state (PySpark exposes no unset; the
        # Scala var setter does) so the rest of the suite keeps exercising
        # the local-mode path it was written against
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())
        assert not sc._jsc.sc().getCheckpointDir().isDefined()


def test_no_bare_local_checkpoint_in_package():
    """Standing gate: every engine localCheckpoint call routes through
    truncate_lineage (lineage.py is the only module allowed to spell it)."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "sedona_iceberg_extension_spark")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py") or f == "lineage.py":
                continue
            p = os.path.join(dirpath, f)
            with open(p) as fh:
                for i, line in enumerate(fh, 1):
                    if ".localCheckpoint(" in line and not line.lstrip().startswith("#"):
                        offenders.append(f"{p}:{i}")
    assert not offenders, offenders
