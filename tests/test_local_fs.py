"""A local-mode engine session serves ``file:`` through
`session.LOCAL_FS_CLASS`, which sets permissions in-process instead of
forking ``chmod``: the same mode bits as Hadoop's stock local file system,
on the session's own Hadoop configuration, and nothing changed for a
cluster master."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import textwrap

import pytest

from apache_flink_essentials_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _file_fs(spark, fs=None):
    """The session's ``file:`` file system, or ``fs`` initialised on the
    session's Hadoop configuration."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    if fs is None:
        return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fs.initialize(uri, conf)
    return fs


def test_local_session_serves_file_scheme_through_nio_fs(spark):
    fs = _file_fs(spark)
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == session.LOCAL_FS_CLASS + "$Raw"
    assert spark.sparkContext.getConf().get(session.LOCAL_FS_CONF) == session.LOCAL_FS_CLASS


def test_nio_fs_sets_the_stock_mode_bits(spark, tmp_path):
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    act = hfs.permission.FsAction
    perm = hfs.permission.FsPermission
    modes = {
        "640": perm(act.READ_WRITE, act.READ, act.NONE),
        "700": perm(act.ALL, act.NONE, act.NONE),
    }
    sticky = perm(act.ALL, act.ALL, act.ALL, True)  # 01777: the chmod fallback

    def make(fs, root):
        root.mkdir()
        p = lambda name: hfs.Path(str(root / name))  # noqa: E731
        fs.create(p("file_default")).close()
        fs.mkdirs(p("dir_default"))
        for name, mode in modes.items():
            fs.create(p(f"file_{name}"), mode, True, 4096, 1, 1 << 20, None).close()
            fs.mkdirs(p(f"dir_{name}"), mode)
        # mkdirs applies the umask, which clears a sticky bit: set it after
        fs.mkdirs(p("dir_sticky"))
        fs.setPermission(p("dir_sticky"), sticky)
        return {f: stat.S_IMODE(os.stat(root / f).st_mode) for f in os.listdir(root)}

    nio = make(_file_fs(spark), tmp_path / "nio")
    stock = make(_file_fs(spark, hfs.LocalFileSystem()), tmp_path / "stock")
    assert nio == stock
    # checksum files too, and every mode actually set (umask 022)
    assert nio[".file_640.crc"] == stock[".file_640.crc"]
    assert (nio["file_640"], nio["dir_700"]) == (0o640, 0o700)
    assert nio["dir_sticky"] == 0o1777


@pytest.fixture
def fresh_jvm(monkeypatch):
    """`session._local_fs_conf` as it runs before this process's JVM starts."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_jvm", None)


@pytest.mark.parametrize("master", ["local-cluster[2,1,1024]", "spark://host:7077", "yarn"])
def test_cluster_master_keeps_stock_fs_and_classpath(fresh_jvm, master):
    assert session._local_fs_conf(master, {"spark.driver.extraClassPath": "/x.jar"}) == {}


def test_caller_fs_impl_wins(fresh_jvm):
    assert session._local_fs_conf("local[2]", {})[session.LOCAL_FS_CONF] == session.LOCAL_FS_CLASS
    conf = {session.LOCAL_FS_CONF: "org.apache.hadoop.fs.LocalFileSystem"}
    assert session._local_fs_conf("local[2]", conf) == {}


def test_fresh_local_session_appends_to_caller_classpath(tmp_path):
    # a new JVM: the class directory goes after the caller's own entry
    jar = tmp_path / "caller.jar"
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from apache_flink_essentials_spark import session
        spark = session.get_spark(master="local[1]", extra_conf={{
            "spark.driver.extraClassPath": {str(jar)!r}}})
        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
        print(spark.sparkContext.getConf().get("spark.driver.extraClassPath"))
        print(fs.getClass().getName())
        spark.stop()
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=300, check=True).stdout.split()
    assert out[-2] == f"{jar}{os.pathsep}{session._local_fs_classes()}"
    assert out[-1] == session.LOCAL_FS_CLASS
