package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationStart}

/** Registered through `spark.extraListeners`: when the SparkContext
  * posts its application start (the last step of context start-up),
  * writes the wall-clock time in epoch milliseconds to the file named by
  * the `graft.perfbench.readyFile` system property. The benchmark takes
  * the time from process launch to this stamp as the command's set-up
  * time, without any change to the engine. */
class ReadyListener extends SparkListener {
  override def onApplicationStart(event: SparkListenerApplicationStart): Unit =
    sys.props.get("graft.perfbench.readyFile").foreach { f =>
      Files.write(Paths.get(f),
        System.currentTimeMillis().toString.getBytes(StandardCharsets.UTF_8))
    }
}
