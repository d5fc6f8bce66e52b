import threading

from tracing import Tracer, self_times, subtree


class _Bean:
    def __init__(self):
        self.ms = 0

    def getCollectionTime(self):
        return self.ms


class _FakeSpark:
    """Just enough of a SparkSession for the tracer's bookkeeping."""

    def __init__(self):
        self.bean = _Bean()
        self.groups = []
        spark = self

        class _SC:
            def setJobGroup(self, gid, desc):
                spark.groups.append(gid)

            def setLocalProperty(self, key, value):
                spark.groups.append(value)

        class _MF:
            @staticmethod
            def getGarbageCollectorMXBeans():
                return [spark.bean]

        class _JVM:
            class java:
                class lang:
                    class management:
                        ManagementFactory = _MF

        self.sparkContext = _SC()
        self._jvm = _JVM()


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_is_duration_minus_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 2, 1.5, 2.0),
        _span(4, 1, 5.0, 9.0),
    ]
    selfs = self_times(spans)
    assert selfs == {1: 3.0, 2: 2.5, 3: 0.5, 4: 4.0}
    assert sum(selfs[s["id"]] for s in subtree(spans, 1)) == 10.0
    assert {s["id"] for s in subtree(spans, 2)} == {2, 3}


def test_nested_spans_record_parent_rid_gc_and_job_groups():
    fake = _FakeSpark()
    tr = Tracer(fake)
    tr.set_rid("batch0")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            fake.bean.ms += 250
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["rid"] == outer["rid"] == "batch0"
    assert inner["gc_s"] == outer["gc_s"] == 0.25
    # the inner span's job group is replaced by its parent's, then cleared
    assert fake.groups == [outer["group"], inner["group"], outer["group"], None]
    selfs = self_times(tr.spans)
    total = sum(selfs[s["id"]] for s in subtree(tr.spans, outer["id"]))
    assert abs(total - (outer["end"] - outer["start"])) < 1e-9


def test_wrap_and_rebind_are_undone_by_close():
    import types

    tr = Tracer(_FakeSpark())
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr.rebind(mod, "f", "layer.f")
    assert mod.f(1) == 2 and tr.spans[-1]["name"] == "layer.f"
    tr.close()
    assert mod.f is orig


def test_threads_keep_their_own_stacks():
    tr = Tracer(_FakeSpark())
    barrier = threading.Barrier(2)

    def work(rid):
        tr.set_rid(rid)
        with tr.span("op"):
            barrier.wait(timeout=10)
            with tr.span("child"):
                pass

    threads = [threading.Thread(target=work, args=(r,)) for r in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    by_id = {s["id"]: s for s in tr.spans}
    for s in tr.spans:
        if s["name"] == "child":
            assert by_id[s["parent"]]["rid"] == s["rid"]
