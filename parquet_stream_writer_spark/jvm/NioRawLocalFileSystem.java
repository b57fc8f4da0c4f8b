package parquetstreamwriter.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * {@link RawLocalFileSystem} whose chmod and symlink lookups use java.nio.
 * Without libhadoop the stock class forks {@code chmod} for every file or
 * directory it creates and {@code readlink} for every link-status lookup
 * (each FileContext rename); these overrides do the same work in-process.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  // Enum order OWNER_READ .. OTHERS_EXECUTE matches mode bits 0400 .. 0001.
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {  // not expressible through PosixFilePermission
      super.setPermission(p, permission);
      return;
    }
    short mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    } catch (UnsupportedOperationException e) {  // non-POSIX file store
      super.setPermission(p, permission);
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    // getFileLinkStatus is supposed to return a symlink with a qualified path.
    if (fi.isSymlink()) {
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();  // unqualified, as the stock class returns it
  }

  /** The stock deprecatedGetFileLinkStatusInternal with readlink done in-process. */
  private FileStatus linkStatus(Path f) throws IOException {
    // Same lookup key as the stock FileUtil.readLink(new File(f.toString())).
    java.nio.file.Path link = new File(f.toString()).toPath();
    String target = Files.isSymbolicLink(link) ? Files.readSymbolicLink(link).toString() : "";
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {  // a regular file or directory
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
          fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (!target.isEmpty()) {  // a dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      throw e;
    }
  }
}
