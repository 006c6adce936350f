package graft.perfbench

import java.io.{FileDescriptor, FileOutputStream, OutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationStart}

object Clock {

  /** Wall-clock seconds since the epoch at microsecond resolution: the same
    * clock as Python's `time.time()`, so the runner can subtract its own
    * launch stamp from it. */
  def now(): Double = {
    val i = Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }
}

/** Registered through `spark.extraListeners`: stamps the moment the
  * SparkContext that `Main.main` builds has finished starting, and keeps the
  * configuration that context was started with. */
class ReadyProbe(conf: SparkConf) extends SparkListener {
  ReadyProbe.conf = Some(conf.clone)
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    if (ReadyProbe.ready == 0.0) ReadyProbe.ready = Clock.now()
}

object ReadyProbe {
  @volatile var ready = 0.0
  @volatile var conf = Option.empty[SparkConf]
}

/** Standard output that remembers when it was last written to: the end of
  * the CLI's rendered output. */
final class StampedOut(out: OutputStream) extends OutputStream {
  @volatile var last = 0.0
  override def write(b: Int): Unit = { out.write(b); last = Clock.now() }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len)
    last = Clock.now()
  }
  override def flush(): Unit = out.flush()
}

/** Untraced invocation: runs the unmodified CLI entry point `Main.main` and
  * writes `{"ready", "output", "end"}` epoch stamps to the file named by the
  * first argument. The runner launches the JVM with
  * `-Dspark.extraListeners=graft.perfbench.ReadyProbe`.
  *
  * Usage: `graft.perfbench.Cli <timing.json> <CLI arguments...>` */
object Cli {
  def main(args: Array[String]): Unit = {
    val stamped = new StampedOut(new FileOutputStream(FileDescriptor.out))
    val out = new PrintStream(stamped, true, "UTF-8")
    System.setOut(out)
    try Console.withOut(out)(graft.cli.Main.main(args.drop(1)))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    out.flush()
    Files.writeString(Paths.get(args(0)),
      s"""{"ready": ${ReadyProbe.ready}, "output": ${stamped.last}, "end": ${Clock.now()}}""")
    System.exit(0)
  }
}

/** Set-up probe: starts the unmodified CLI entry point `Main.main` on the
  * workload's arguments, waits until the ReadyProbe sees its session start
  * (launch with the same `spark.extraListeners` as [[Cli]]), writes
  * `{"ready"}` and halts at once: what follows set-up is not part of what it
  * measures. The runner kills whatever the CLI has started by then.
  *
  * Usage: `graft.perfbench.Setup <timing.json> <CLI arguments...>` */
object Setup {
  def main(args: Array[String]): Unit = {
    val cli = new Thread(() => graft.cli.Main.main(args.drop(1)), "cli")
    cli.setDaemon(true)
    cli.start()
    while (ReadyProbe.ready == 0.0 && cli.isAlive) Thread.sleep(1)
    if (ReadyProbe.ready == 0.0) Runtime.getRuntime.halt(1)
    Files.writeString(Paths.get(args(0)), s"""{"ready": ${ReadyProbe.ready}}""")
    Runtime.getRuntime.halt(0)
  }
}
