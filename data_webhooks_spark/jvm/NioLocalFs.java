package data_webhooks_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.FileTime;
import java.nio.file.attribute.GroupPrincipal;
import java.nio.file.attribute.UserPrincipal;
import java.util.Map;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The FileContext file system for file:, built like Hadoop's LocalFs (a
 * ChecksumFs over a DelegateToFileSystem over a RawLocalFileSystem), with
 * the permission and link work done in the JVM. Without libhadoop the stock
 * RawLocalFileSystem forks chmod after every create and mkdir, ls -ld for
 * every permission read and readlink for every link-status read; Spark's
 * streaming offset/commit logs and state stores pay ~10 forks per file.
 * Files, modes, .crc sidecars and rename semantics are those of the stock.
 */
public class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw(), conf,
        FsConstants.LOCAL_FS_URI.getScheme(), false) {
      // as org.apache.hadoop.fs.local.RawLocalFs
      @Override public int getUriDefaultPort() { return -1; }
      @Override public FsServerDefaults getServerDefaults(Path f) throws IOException { return LocalConfigKeys.getServerDefaults(); }
      @Override @Deprecated public FsServerDefaults getServerDefaults() throws IOException { return LocalConfigKeys.getServerDefaults(); }
      @Override public boolean isValidName(String src) { return true; }
    });
  }

  /** RawLocalFileSystem with stat/chmod/readlink through java.nio instead of child processes. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // "unix:mode" is chmod(2) with the sticky bit, as the stock `chmod %04o`
      Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
    }

    @Override
    public FileStatus getFileStatus(Path f) throws IOException {
      File file = pathToFile(f);
      Map<String, Object> a; // follows links, as java.io.File and the stock `ls -ld <canonical path>` do
      try {
        a = Files.readAttributes(file.toPath(), "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group");
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException("File " + f + " does not exist");
      }
      return new FileStatus((Long) a.get("size"), (Boolean) a.get("isDirectory"), 1, getDefaultBlockSize(f),
          ((FileTime) a.get("lastModifiedTime")).toMillis(), ((FileTime) a.get("lastAccessTime")).toMillis(),
          new FsPermission((short) ((Integer) a.get("mode") & 01777)),
          ((UserPrincipal) a.get("owner")).getName(), ((GroupPrincipal) a.get("group")).getName(),
          new Path(file.getPath()).makeQualified(getUri(), getWorkingDirectory()));
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      FileStatus s = linkStatus(f);
      if (s.isSymlink()) {
        s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), s.getPath(), s.getSymlink()));
      }
      return s;
    }

    @Override
    public Path getLinkTarget(Path f) throws IOException {
      return linkStatus(f).getSymlink();
    }

    private FileStatus linkStatus(Path f) throws IOException {
      String target; // read at f.toString() like the stock, so a file:-qualified path never reads as a link
      try {
        target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString();
      } catch (IOException e) {
        target = "";
      }
      try {
        FileStatus s = getFileStatus(f);
        return target.isEmpty() ? s : new FileStatus(s.getLen(), false, s.getReplication(), s.getBlockSize(),
            s.getModificationTime(), s.getAccessTime(), s.getPermission(), s.getOwner(), s.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        if (target.isEmpty()) throw e;
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "", new Path(target), f);
      }
    }
  }
}
