"""A process-free local file system for Hadoop's ``file:`` scheme.

Without a native libhadoop, Hadoop's local file system runs ``chmod``
as a child process for every file or directory it creates with a
permission, and its ``getFileLinkStatus`` runs ``readlink`` (twice
per file in ``FileContext.rename``, the commit of Spark's checkpoint
manager). Paced Q1 spawned ~250 processes per micro-batch that way.

The classes below answer both questions in the JVM through
``java.nio.file`` and are otherwise the stock classes:

- ``RawFileSystem`` (a ``RawLocalFileSystem``): ``setPermission`` sets
  the nine rwx bits with ``Files.setPosixFilePermissions`` and hands a
  mode with the setuid, setgid or sticky bit to the stock ``chmod``.
  ``getFileLinkStatus`` asks ``Files.readSymbolicLink`` what stock asks
  ``readlink``, on the same ``new File(path.toString())``, with ``""``
  on any failure; a non-link then gets ``getFileStatus`` as in stock,
  and a link the stock call.
- ``ChecksummedFileSystem`` (a ``LocalFileSystem`` around it) keeps
  the ``.crc`` checksums: ``fs.file.impl``.
- ``RawFs`` and ``Fs`` copy ``org.apache.hadoop.fs.local.RawLocalFs``
  and ``LocalFs`` around ``RawFileSystem`` (the stock constructors are
  package-private and hard-code the stock raw file system):
  ``fs.AbstractFileSystem.file.impl``. Spark's
  ``FileContextBasedCheckpointFileManager`` keeps its atomic
  no-overwrite rename.

``session_conf`` compiles them once per machine with ``javac`` against
Spark's Hadoop client jar and returns the session settings that put
them in place. Without ``javac`` (or on a failed build) it returns no
settings and logs one warning: the session runs stock Hadoop.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import subprocess

from table_demo_spark.native_cache import cached_build

_JAVA_SOURCE = r"""
package tds;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

public final class NioLocal {
  private NioLocal() {}

  /* OWNER_READ .. OTHERS_EXECUTE: the bits 0400 .. 0001 in order. */
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  public static class RawFileSystem extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target;
      try {
        target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString();
      } catch (Exception e) {
        target = "";
      }
      return target.isEmpty() ? getFileStatus(f) : super.getFileLinkStatus(f);
    }
  }

  public static class ChecksummedFileSystem extends LocalFileSystem {
    public ChecksummedFileSystem() {
      super(new RawFileSystem());
    }
  }

  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new RawFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(FsConstants.LOCAL_FS_URI, conf));
    }
  }
}
"""

FS_IMPL = "tds.NioLocal$ChecksummedFileSystem"
ABSTRACT_FS_IMPL = "tds.NioLocal$Fs"

log = logging.getLogger(__name__)


def _hadoop_jar() -> str | None:
    from pyspark.find_spark_home import _find_spark_home

    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    return jars[0] if jars else None


def build_classes() -> str | None:
    """The class directory of the file system, compiled once per machine
    and per Hadoop jar; None (with a warning) when it cannot be built."""
    javac, jar = shutil.which("javac"), _hadoop_jar()
    if javac is None or jar is None:
        log.warning("no javac or Hadoop client jar: file: runs stock Hadoop")
        return None

    def compile_to(out: str) -> None:
        os.makedirs(out)
        src = os.path.join(out, "NioLocal.java")
        with open(src, "w") as f:
            f.write(_JAVA_SOURCE)
        subprocess.run(
            [javac, "-proc:none", "-cp", jar, "-d", out, src],
            check=True, capture_output=True, text=True, timeout=120,
        )

    try:
        return cached_build("niolocal", _JAVA_SOURCE + os.path.basename(jar), compile_to)
    except (OSError, subprocess.SubprocessError) as e:
        detail = getattr(e, "stderr", None) or e
        log.warning("building the NIO local file system failed: %s; file: runs stock Hadoop", detail)
        return None


def session_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """Settings that make ``file:`` the NIO file system in a JVM about to
    start; the class directory goes after any ``spark.driver.extraClassPath``
    in ``extra_conf``. Empty when the classes cannot be built."""
    classes = build_classes()
    if classes is None:
        return {}
    cp = (extra_conf or {}).get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": f"{cp}{os.pathsep}{classes}" if cp else classes,
        "spark.hadoop.fs.file.impl": FS_IMPL,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": ABSTRACT_FS_IMPL,
    }
