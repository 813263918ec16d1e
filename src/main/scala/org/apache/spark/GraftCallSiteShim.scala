package org.apache.spark

import org.apache.spark.util.CallSite

// The local-property keys under which SparkContext.setCallSite stores a
// job's call site. CallSite is private[spark]; graft.util.PartitionFold
// reads the keys here instead of copying the strings.
object GraftCallSiteShim {
  val ShortForm: String = CallSite.SHORT_FORM
  val LongForm: String = CallSite.LONG_FORM
}
