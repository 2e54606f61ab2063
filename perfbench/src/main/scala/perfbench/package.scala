import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

package object perfbench {

  /** A timed pass's work has run; this check runs once the clock stops and
    * returns (rows, output correct).
    */
  type Pass = () => (Long, Boolean)

  /** Renders the artifact, the spans and the result line. */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
