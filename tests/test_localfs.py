"""The ``file://`` filesystem ``get_spark`` installs (``jvm/NioLocalFileSystem``).

It must behave as Hadoop's stock local filesystem -- the same modes,
statuses, symlink answers, ``.crc`` sidecars and checksum failures --
without spawning a process per metadata call.  The stock
``RawLocalFileSystem`` in the same JVM is the reference where one is
needed.
"""

from __future__ import annotations

import grp
import os
import pwd
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from mqtt_message_pump_spark.session import LOCALFS_JAR, default_driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NIO = "mqtt_message_pump_spark.jvm.NioLocalFileSystem"


@pytest.fixture(scope="module")
def hadoop(spark):
    """(package ``org.apache.hadoop.fs``, the session's ``file://``
    FileSystem, its FileContext, a stock RawLocalFileSystem, the umask)."""
    conf = spark._jsc.hadoopConfiguration()
    H = spark._jvm.org.apache.hadoop.fs
    root = H.Path("file:///")
    fs = root.getFileSystem(conf)
    fc = H.FileContext.getFileContext(root.toUri(), conf)
    stock = H.RawLocalFileSystem()
    stock.initialize(root.toUri(), conf)
    umask = H.permission.FsPermission.getUMask(conf).toShort()
    return H, fs, fc, stock, umask


def _fc_create(spark, H, fc, path: str):
    """FileContext create-or-overwrite, as the streaming checkpoint does."""
    flags = spark._jvm.java.util.EnumSet.of(H.CreateFlag.CREATE, H.CreateFlag.OVERWRITE)
    opts = spark.sparkContext._gateway.new_array(H.Options.CreateOpts, 1)
    opts[0] = H.Options.CreateOpts.createParent()
    return fc.create(H.Path(path), flags, opts)


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _forks() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    pytest.skip("no processes counter in /proc/stat")


def _user_name(uid: int) -> str:
    try:
        return pwd.getpwuid(uid).pw_name
    except KeyError:  # no passwd entry: shown as the number, as `ls` does
        return str(uid)


def _group_name(gid: int) -> str:
    try:
        return grp.getgrgid(gid).gr_name
    except KeyError:
        return str(gid)


def _fields(s) -> tuple:
    return (
        s.getPath().toString(), s.getLen(), s.isSymlink(), s.getModificationTime(),
        s.getPermission().toShort(), s.getOwner(), s.getGroup(),
    )


def test_file_scheme_resolves_to_nio_classes(hadoop):
    _, fs, fc, _, _ = hadoop
    assert fs.getClass().getName() == NIO
    assert fs.getRawFileSystem().getClass().getName() == NIO + "$Raw"
    assert fc.getDefaultFileSystem().getClass().getName() == NIO + "$Fs"


def test_modes_after_create_mkdirs_and_set_permission(spark, hadoop, tmp_path):
    H, fs, fc, stock, umask = hadoop
    FsPermission = H.permission.FsPermission
    for impl, sub in ((fs, "nio"), (stock, "stock")):
        d = tmp_path / sub
        assert impl.mkdirs(H.Path(str(d / "a" / "b")))
        impl.create(H.Path(str(d / "f"))).close()
        assert _mode(d / "a" / "b") == _mode(d / "a") == 0o777 & ~umask
        assert _mode(d / "f") == 0o666 & ~umask

        impl.setPermission(H.Path(str(d / "f")), FsPermission(0o640))
        impl.setPermission(H.Path(str(d / "a")), FsPermission(0o1770))
        assert _mode(d / "f") == 0o640
        assert _mode(d / "a") == 0o1770
        # a directory keeps its setgid bit, as `chmod 0750 dir` keeps it
        os.chmod(d / "a" / "b", 0o2755)
        impl.setPermission(H.Path(str(d / "a" / "b")), FsPermission(0o750))
        assert _mode(d / "a" / "b") == 0o2750
    # the checksummed create through FileContext applies the same umask
    _fc_create(spark, H, fc, f"file://{tmp_path}/fc/g").close()
    assert _mode(tmp_path / "fc" / "g") == 0o666 & ~umask
    assert _mode(tmp_path / "fc") == 0o777 & ~umask


def test_status_permission_owner_group_match_os_stat(hadoop, tmp_path):
    H, fs, _, stock, _ = hadoop
    (tmp_path / "d").mkdir()
    (tmp_path / "f").write_bytes(b"x" * 10)
    os.chmod(tmp_path / "f", 0o604)
    os.chmod(tmp_path / "d", 0o1751)
    raw = fs.getRawFileSystem()
    listed = {s.getPath().getName(): s for s in raw.listStatus(H.Path(str(tmp_path)))}
    reference = {s.getPath().getName(): s for s in stock.listStatus(H.Path(str(tmp_path)))}
    assert sorted(listed) == ["d", "f"]
    for name in ("d", "f"):
        st = os.stat(tmp_path / name)
        for s in (listed[name], fs.getFileStatus(H.Path(str(tmp_path / name)))):
            assert s.getPermission().toShort() == stat.S_IMODE(st.st_mode)
            assert s.getOwner() == _user_name(st.st_uid)
            assert s.getGroup() == _group_name(st.st_gid)
            ref = reference[name]
            assert s.getPermission().toString() == ref.getPermission().toString()
            assert (s.getOwner(), s.getGroup()) == (ref.getOwner(), ref.getGroup())
        s, ref = listed[name], reference[name]
        assert (s.getLen(), s.isDirectory(), s.getModificationTime(), s.getPath().toString()) == (
            ref.getLen(), ref.isDirectory(), ref.getModificationTime(), ref.getPath().toString())
    # a plain file lists as itself
    (only,) = raw.listStatus(H.Path(str(tmp_path / "f")))
    assert only.getPermission().toShort() == 0o604 and only.getLen() == 10
    with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
        fs.getFileStatus(H.Path(str(tmp_path / "missing")))


def test_file_link_status(hadoop, tmp_path):
    H, fs, fc, stock, _ = hadoop
    (tmp_path / "target").write_bytes(b"abc")
    os.symlink(tmp_path / "target", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    raw = fs.getRawFileSystem()

    link = raw.getFileLinkStatus(H.Path(str(tmp_path / "link")))
    assert link.isSymlink()
    assert link.getSymlink().toString() == f"file:{tmp_path}/target"
    assert raw.getLinkTarget(H.Path(str(tmp_path / "link"))).toString() == f"{tmp_path}/target"
    assert link.getLen() == 3
    # the stock code resolves links only for unqualified paths
    ref = stock.getFileLinkStatus(H.Path(str(tmp_path / "link")))
    assert ref.getSymlink().toString() == link.getSymlink().toString()
    # FileContext sees the same link, through a qualified path
    via_fc = fc.getFileLinkStatus(H.Path(f"file://{tmp_path}/link"))
    assert via_fc.isSymlink() and via_fc.getSymlink().toString() == f"file:{tmp_path}/target"

    dangling = raw.getFileLinkStatus(H.Path(str(tmp_path / "dangling")))
    assert dangling.isSymlink() and dangling.getLen() == 0

    regular = H.Path(str(tmp_path / "target"))
    assert _fields(raw.getFileLinkStatus(regular)) == _fields(raw.getFileStatus(regular))
    assert _fields(raw.getFileStatus(regular))[4] == _mode(tmp_path / "target")


def test_crc_sidecar_written_and_checked(spark, hadoop, tmp_path):
    """Both APIs write a ``.crc`` sidecar, and a flipped byte fails a
    FileSystem read."""
    H, fs, fc, _, _ = hadoop
    data = bytes(range(100))
    f = H.Path(f"file://{tmp_path}/fs.bin")
    g = H.Path(f"file://{tmp_path}/fc.bin")
    for out in (fs.create(f), _fc_create(spark, H, fc, g.toString())):
        out.write(data)
        out.close()

    for name, path in (("fs.bin", f), ("fc.bin", g)):
        assert (tmp_path / f".{name}.crc").stat().st_size > 0
        inp = fs.open(path)
        assert inp.read() == 0
        inp.close()
        raw = bytearray((tmp_path / name).read_bytes())
        raw[50] ^= 0xFF
        (tmp_path / name).write_bytes(bytes(raw))
        inp = fs.open(path)
        with pytest.raises(Py4JJavaError) as err:
            inp.read()
        inp.close()
        assert err.value.java_exception.getClass().getName() == (
            "org.apache.hadoop.fs.ChecksumException"
        )


def test_file_context_reads_check_crc(spark, hadoop, tmp_path):
    """A flipped byte fails a FileContext read too, through ``open`` (the
    streaming checkpoint's read) and through ``openFile``.  The stock
    binding (``LocalFs``) returns the flipped byte without an error: its
    ``FilterFs`` base sends both calls to the raw filesystem, past the
    checksum layer."""
    H, _, fc, _, _ = hadoop
    path = H.Path(f"file://{tmp_path}/ck.bin")
    out = _fc_create(spark, H, fc, path.toString())
    out.write(bytes(range(100)))
    out.close()
    buf = spark.sparkContext._gateway.new_array(spark._jvm.byte, 100)
    inp = fc.open(path)
    assert inp.read(buf) == 100
    inp.close()
    raw = bytearray((tmp_path / "ck.bin").read_bytes())
    raw[50] ^= 0xFF
    (tmp_path / "ck.bin").write_bytes(bytes(raw))

    for inp in (fc.open(path), fc.openFile(path).build().get()):
        with pytest.raises(Py4JJavaError) as err:
            inp.read(buf)
        inp.close()
        assert err.value.java_exception.getClass().getName() == (
            "org.apache.hadoop.fs.ChecksumException"
        )


def test_creates_and_renames_spawn_no_processes(spark, hadoop, tmp_path):
    """Stock Hadoop spawns ``chmod`` per create (two with the ``.crc``):
    200 creates cost 400+ forks, and each FileContext rename adds
    ``readlink`` calls.  The counter is host-wide, so up to 40 forks from
    other processes during each loop are tolerated."""
    H, fs, fc, _, _ = hadoop
    before = _forks()
    for i in range(200):
        fs.create(H.Path(f"file://{tmp_path}/f{i}")).close()
    assert _forks() - before < 40

    # the checkpoint's path: FileContext create, then rename over
    rename = spark.sparkContext._gateway.new_array(H.Options.Rename, 1)
    rename[0] = H.Options.Rename.OVERWRITE
    before = _forks()
    for i in range(100):
        tmp = f"file://{tmp_path}/.c{i}.tmp"
        _fc_create(spark, H, fc, tmp).close()
        fc.rename(H.Path(tmp), H.Path(f"file://{tmp_path}/c{i}"), rename)
    assert _forks() - before < 40
    assert (tmp_path / "c99").exists() and (tmp_path / ".c99.crc").exists()


def test_driver_memory_default_below_physical_memory(spark):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    default = default_driver_memory()
    assert default.endswith("m")
    assert 0 < int(default[:-1]) << 20 < phys
    if not os.environ.get("SPARK_DRIVER_MEMORY"):
        assert spark.sparkContext.getConf().get("spark.driver.memory") == default


@pytest.mark.skipif(
    not all(shutil.which(t) for t in ("javac", "javap", "jar")),
    reason="needs a JDK (javac, javap, jar) on PATH to rebuild the jar",
)
def test_committed_jar_matches_source(tmp_path):
    rebuilt = str(tmp_path / "localfs.jar")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "build_localfs_jar.py"), rebuilt],
        check=True, capture_output=True,
    )

    def api(jar):
        with zipfile.ZipFile(jar) as z:
            classes = sorted(
                n[:-len(".class")].replace("/", ".")
                for n in z.namelist() if n.endswith(".class")
            )
        out = subprocess.run(
            ["javap", "-public", "-cp", jar, *classes],
            check=True, capture_output=True, text=True,
        )
        return classes, out.stdout

    committed, rebuilt_api = api(LOCALFS_JAR), api(rebuilt)
    assert len(committed[0]) == 4
    assert committed == rebuilt_api
