"""The fork-free ``file:`` file system (``jvm/NioLocalFs.java``).

Its two overrides must behave exactly as Hadoop's stock
``RawLocalFileSystem`` does, and every session ``get_spark`` builds must
resolve ``file:`` to it through both Hadoop APIs. The committed jar is
the compiled source; rebuild it from the package's ``jvm/`` directory
with:

    d=$(mktemp -d) && javac --release 17 -cp "$(python -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')/jars/*" -d "$d" NioLocalFs.java && jar --create --file nio-local-fs.jar -C "$d" .
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import zipfile

import pyspark
import pytest
from py4j.protocol import Py4JJavaError

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.session import NIO_LOCAL_FS_JAR

SOURCE = NIO_LOCAL_FS_JAR.parent / "NioLocalFs.java"

MODES = ["0000", "0644", "0755", "0700", "0777", "0600", "0444", "0070", "0007", "1777", "1755"]


@pytest.fixture(scope="module")
def hadoop(spark):
    """Hadoop's stock raw local file system and the shim's, side by side."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(uri, conf)
    shim = getattr(jvm.tidbcdc.jvm, "NioLocalFs$Raw")()
    shim.initialize(uri, conf)
    return jvm, stock, shim


def _java_class(exc: Py4JJavaError) -> str:
    return exc.java_exception.getClass().getName()


def test_jar_holds_the_compiled_source(tmp_path):
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("javac is not installed, so the jar cannot be rebuilt to compare")
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run([javac, "--release", "17", "-cp", jars, "-d", str(tmp_path), str(SOURCE)],
                   check=True, capture_output=True)
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes() for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(NIO_LOCAL_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(built) == sorted(committed)
    for name, data in built.items():
        assert committed[name] == data, f"{name} differs from the source; rebuild the jar"


def test_session_resolves_file_scheme_to_the_shim(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "tidbcdc.jvm.NioLocalFs"
    assert fs.getRaw().getClass().getName() == "tidbcdc.jvm.NioLocalFs$Raw"
    afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf).getDefaultFileSystem()
    assert afs.getClass().getName() == "tidbcdc.jvm.NioLocalFs$Fs"
    assert afs.getRawFs().getClass().getName() == "tidbcdc.jvm.NioLocalFs$RawFs"


def test_file_context_keeps_checksums_and_no_overwrite_rename(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    src, dst = (jvm.org.apache.hadoop.fs.Path(str(tmp_path / n)) for n in ("tmp", "0"))
    for p in (src, dst):
        out = fs.create(p)
        out.write(b"v1")
        out.close()
    assert (tmp_path / ".tmp.crc").exists() and (tmp_path / ".0.crc").exists()
    none = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    none[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    with pytest.raises(Py4JJavaError) as exc:
        fc.rename(src, dst, none)
    assert _java_class(exc.value) == "org.apache.hadoop.fs.FileAlreadyExistsException"
    fc.rename(src, jvm.org.apache.hadoop.fs.Path(str(tmp_path / "1")), none)
    assert (tmp_path / "1").read_bytes() == b"v1" and (tmp_path / ".1.crc").exists()


@pytest.mark.parametrize("kind", ["file", "dir", "setgid_dir"])
def test_set_permission_matches_stock(hadoop, tmp_path, kind):
    jvm, stock, shim = hadoop
    for mode in MODES:
        got = []
        for name, fs in (("stock", stock), ("shim", shim)):
            p = tmp_path / f"{name}-{mode}"
            if kind == "file":
                p.write_bytes(b"x")
            else:
                p.mkdir()
                if kind == "setgid_dir":
                    os.chmod(p, 0o2775)
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)),
                             jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
            got.append(oct(os.stat(p).st_mode))
        assert got[0] == got[1], (kind, mode, got)
        assert stat.S_IMODE(int(got[1], 8)) & 0o1777 == int(mode, 8), (kind, mode, got)


def _link_fields(fs, path):
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as exc:
        return _java_class(exc)
    link = st.isSymlink()
    return {
        "isSymlink": link,
        "target": st.getSymlink().toString() if link else None,
        "len": st.getLen(),
        "isDirectory": st.isDirectory(),
        "path": st.getPath().toString(),
        "permission": st.getPermission().toString(),
        "owner": st.getOwner(),
    }


def test_file_link_status_matches_stock(hadoop, tmp_path):
    jvm, stock, shim = hadoop
    (tmp_path / "file").write_bytes(b"hello")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")
    for name in ("file", "dir", "link", "dangling"):
        for form in (str(tmp_path / name), (tmp_path / name).as_uri()):
            path = jvm.org.apache.hadoop.fs.Path(form)
            assert _link_fields(shim, path) == _link_fields(stock, path), form
    for name in ("link", "dangling"):
        assert _link_fields(shim, jvm.org.apache.hadoop.fs.Path(str(tmp_path / name)))["isSymlink"]
    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))
    for fs in (stock, shim):
        assert _link_fields(fs, missing) == "java.io.FileNotFoundException"
