package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.DelegateToFileSystem

import java.net.URI

/** AbstractFileSystem flavor of [[NoForkLocalFileSystem]] for
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`: the test sessions route
  * the FileContext-based streaming CheckpointFileManager (which resolves
  * `file:` through AbstractFileSystem, not FileSystem) through it too. */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false)
