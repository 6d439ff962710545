package mqtt_message_pump_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.GroupPrincipal;
import java.nio.file.attribute.UserPrincipal;
import java.util.Collections;
import java.util.Map;
import java.util.concurrent.CompletableFuture;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.impl.AbstractFSBuilderImpl;
import org.apache.hadoop.fs.impl.OpenFileParameters;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.util.LambdaUtils;

/**
 * Hadoop's local filesystem without a process spawn per metadata call.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} runs {@code chmod} on every
 * create and mkdirs, {@code readlink} on every getFileLinkStatus (so on every
 * FileContext rename) and {@code ls -ld} when a status's permission, owner or
 * group is first read.  {@link Raw} answers those calls through
 * {@code java.nio.file}; everything else is the stock code.  This class wraps
 * it the way {@link LocalFileSystem} wraps the stock one, and {@link Fs} the
 * way {@code org.apache.hadoop.fs.local.LocalFs} does for FileContext, so the
 * {@code .crc} sidecars and checksum verification are unchanged.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with its shell calls done through java.nio. */
  public static class Raw extends RawLocalFileSystem {
    private static final int TYPE_MASK = 0170000, DIRECTORY = 0040000;
    private static final int SETID_BITS = 06000, PERMISSION_BITS = 01777;

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      int mode = permission.toShort();
      int old = (Integer) Files.getAttribute(file, "unix:mode");
      if ((old & TYPE_MASK) == DIRECTORY) {
        mode |= old & SETID_BITS;  // as `chmod 0755 dir` keeps setuid/setgid
      }
      Files.setAttribute(file, "unix:mode", mode);
    }

    @Override
    public FileStatus getFileStatus(Path f) throws IOException {
      FileStatus st = super.getFileStatus(f);
      Map<String, Object> attrs;
      try {
        attrs = Files.readAttributes(pathToFile(f).toPath(), "unix:mode,owner,group");
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException("File " + f + " does not exist");
      }
      FsPermission perm = new FsPermission((short) ((Integer) attrs.get("mode") & PERMISSION_BITS));
      return new FileStatus(st.getLen(), st.isDirectory(), st.getReplication(),
          st.getBlockSize(), st.getModificationTime(), st.getAccessTime(), perm,
          ((UserPrincipal) attrs.get("owner")).getName(),
          ((GroupPrincipal) attrs.get("group")).getName(), st.getPath());
    }

    @Override
    public FileStatus[] listStatus(Path f) throws IOException {
      // a directory's entries already come through getFileStatus
      if (pathToFile(f).isDirectory()) {
        return super.listStatus(f);
      }
      return new FileStatus[] {getFileStatus(f)};
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      FileStatus st = linkStatus(f);
      if (st.isSymlink()) {
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), st.getPath(), st.getSymlink()));
      }
      return st;
    }

    @Override
    public Path getLinkTarget(Path f) throws IOException {
      return linkStatus(f).getSymlink();
    }

    private FileStatus linkStatus(Path f) throws IOException {
      java.nio.file.Path file = pathToFile(f).toPath();
      if (!Files.isSymbolicLink(file)) {
        return getFileStatus(f);
      }
      Path target = new Path(Files.readSymbolicLink(file).toString());
      try {
        FileStatus st = getFileStatus(f);
        return new FileStatus(st.getLen(), false, st.getReplication(), st.getBlockSize(),
            st.getModificationTime(), st.getAccessTime(), st.getPermission(),
            st.getOwner(), st.getGroup(), target, f);
      } catch (FileNotFoundException e) {  // a dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "", target, f);
      }
    }
  }

  /**
   * The FileContext binding, as {@code LocalFs}: checksums over {@link RawFs}.
   * Unlike {@code LocalFs} it checks every read: {@code FilterFs} sends
   * {@code open(Path)} and {@code openFileWithOptions} past the checksum layer.
   */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }

    @Override
    public FSDataInputStream open(Path f) throws IOException {
      return open(f, getServerDefaults(f).getFileBufferSize());
    }

    @Override
    public CompletableFuture<FSDataInputStream> openFileWithOptions(
        Path path, OpenFileParameters parameters) throws IOException {
      AbstractFSBuilderImpl.rejectUnknownMandatoryKeys(
          parameters.getMandatoryKeys(), Collections.emptySet(), "for " + path);
      return LambdaUtils.eval(
          new CompletableFuture<>(), () -> open(path, parameters.getBufferSize()));
    }
  }

  /** {@code RawLocalFs} over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
}
