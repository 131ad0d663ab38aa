/*
 * Checksummed local file system (`file://`) over NioRawLocalFileSystem:
 * Hadoop's LocalFileSystem, with its .crc side files, minus the `chmod`
 * child process per created file and directory.  Registered as
 * fs.file.impl for local masters by kafkastreaming_spark.session.
 * Build: see NioRawLocalFileSystem.java.
 */
package kafkastreaming_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
