package graft.mergetree

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf

/** Hadoop's default configuration, parsed once per JVM.
  *
  * A fresh `Configuration` scans and parses the XML default resources on
  * its first read (~7.5 ms); a copy of an already-loaded one clones its
  * properties (~0.16 ms). Every parquet reader, writer and footer read in
  * the engine takes its conf from [[copy]] (the columnar reader from
  * [[jobConf]]), so a scan task pays the copy, not the parse. Callers that
  * set keys (schema, filter predicate) set them on their own copy; nothing
  * writes to the shared instance.
  */
object HadoopConf {
  private val defaults = new Configuration()

  def copy(): Configuration = {
    // Load the shared properties before copying: Hadoop drops them on every
    // registered conf when a class adds a default resource (JobConf's
    // static init does), and a copy of an unloaded conf parses the XML
    // again on its own.
    defaults.size()
    new Configuration(defaults)
  }

  /** [[copy]] as a `JobConf`, for a reader that builds a Hadoop task
    * context on it: the context clones any other `Configuration` once more.
    */
  def jobConf(): JobConf = {
    defaults.size()
    new JobConf(defaults)
  }
}
