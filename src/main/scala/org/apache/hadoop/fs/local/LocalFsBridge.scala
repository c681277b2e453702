package org.apache.hadoop.fs.local

import org.apache.hadoop.conf.Configuration

/** Hadoop's `LocalFs` opened for extension: its constructors are
  * package-private, so a subclass elsewhere goes through this class.
  * The JVM allows the call only when this class and Hadoop's share a
  * class loader, as on one flat class path; a jar added at run time
  * (`--jars`) gets a loader of its own, which
  * `graft.sources.NioLocalFileSystem.install` checks for. */
abstract class LocalFsBridge(conf: Configuration) extends LocalFs(conf)
