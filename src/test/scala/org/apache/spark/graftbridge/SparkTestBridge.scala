package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Specs that count Spark jobs or exercise a driver limit need two
  * package-private handles: the listener bus (events arrive
  * asynchronously) and the context's live conf, which the scheduler reads
  * per job. */
object SparkTestBridge {

  /** Returns once every posted listener event has been handled. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` with the context conf `key` set to `value`, then puts
    * the previous value back. */
  def withContextConf[T](sc: SparkContext, key: String, value: String)
                        (body: => T): T = {
    val previous = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally previous.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
