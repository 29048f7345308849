"""The engine's Python worker daemon (marc_solr_profiling_spark/pydaemon.py,
set by session.get_spark): inside a Python task, ``invalidate_caches``
re-reads a zip archive on ``sys.path`` only after the archive changed."""



def test_worker_rereads_a_zip_only_after_it_changed(spark, tmp_path):
    assert (spark.conf.get("spark.python.daemon.module")
            == "marc_solr_profiling_spark.pydaemon")
    archive = str(tmp_path / "probe.zip")

    def probe(_):
        import importlib
        import os
        import sys
        import zipfile
        import zipimport

        def write_zip(body: str) -> None:
            with zipfile.ZipFile(archive + ".tmp", "w") as z:
                z.writestr("pydaemon_probe_mod.py", body)
            os.replace(archive + ".tmp", archive)

        write_zip("X = 1\n")
        sys.path.insert(0, archive)
        try:
            import pydaemon_probe_mod  # noqa: F401 — a zipimporter for it

            reads = []
            real = zipimport._read_directory

            def counted(path):
                reads.append(path)
                return real(path)

            zipimport._read_directory = counted
            try:
                importlib.invalidate_caches()  # first sight of the archive
                seen = reads.count(archive)
                importlib.invalidate_caches()
                unchanged = reads.count(archive) - seen
                write_zip("X = 2\nY = 3\n")
                importlib.invalidate_caches()
                changed = reads.count(archive) - seen - unchanged
                importlib.invalidate_caches()
                after = reads.count(archive) - seen - unchanged - changed
            finally:
                zipimport._read_directory = real
        finally:
            sys.path.remove(archive)
            sys.modules.pop("pydaemon_probe_mod", None)
        yield (unchanged, changed, after)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == [(0, 1, 0)]
